"""Pure-Python/numpy reference implementations — NO Spark imports.

Two consumers:

- ``tests/test_hash_parity.py`` / ``tests/test_similarity.py`` pin the
  Spark operators bit-for-bit against these functions on tiny inputs.
- ``queries.py`` uses them to generate **literal-table DuckDB oracles**
  (``VALUES`` lists) for the operators DuckDB cannot express natively
  (seeded xxhash64 minhash/simhash banding, numpy k-means IVF): the
  expected output is recomputed here from the parquet bytes alone and
  inlined into the oracle SQL, so the driver's gate gets a value-exact
  row for them instead of ``no_oracle``.

The XXH64 core is the public algorithm (Collet 2012, BSD spec); Spark's
``F.xxhash64`` chains multi-column input by re-seeding with the running
hash (seed 42 start), with IntegerType contributing 4 LE bytes and
LongType 8 LE bytes.
"""

from __future__ import annotations

import struct
from functools import lru_cache

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1

MINHASH_P = 2_147_483_647  # mirrors operators.dedup._P


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Reference XXH64 over bytes (unsigned 64-bit result)."""
    n, i = len(data), 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i <= n - 32:
            v1 = _round(v1, struct.unpack_from("<Q", data, i)[0])
            v2 = _round(v2, struct.unpack_from("<Q", data, i + 8)[0])
            v3 = _round(v3, struct.unpack_from("<Q", data, i + 16)[0])
            v4 = _round(v4, struct.unpack_from("<Q", data, i + 24)[0])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def signed64(x: int) -> int:
    return x - (1 << 64) if x >= (1 << 63) else x


@lru_cache(maxsize=1 << 20)
def spark_xxhash64_str(s: str, seed: int = 42) -> int:
    """Spark ``F.xxhash64(string_col)`` == XXH64(utf8, seed 42), signed."""
    return signed64(xxh64(s.encode("utf-8"), seed))


def spark_xxhash64_str_long(s: str, i: int) -> int:
    """``F.xxhash64(string_col, long_col)``: LongType → 8 LE bytes."""
    h1 = xxh64(s.encode("utf-8"), 42)
    return signed64(xxh64(struct.pack("<q", i), h1))


@lru_cache(maxsize=1 << 20)
def spark_xxhash64_str_lit(s: str, i: int) -> int:
    """``F.xxhash64(string_col, F.lit(i))``: small-int lit is IntegerType
    → 4 LE bytes (unlike a DataFrame int column, which is LongType)."""
    h1 = xxh64(s.encode("utf-8"), 42)
    return signed64(xxh64(struct.pack("<i", i), h1))


# ----------------------------------------------------------------- text ops


def normalize_text(s: str) -> str:
    """Twin of ``operators.dedup.normalize_text``: Java ``trim`` (strips
    code points ≤ U+0020), lower, collapse Java ``\\s`` runs to one
    space. Java \\s is ASCII-only ([ \\t\\n\\x0B\\f\\r]) — Python's re
    \\s is unicode-aware, so spell the class out."""
    import re

    start, end = 0, len(s)
    while start < end and s[start] <= " ":
        start += 1
    while end > start and s[end - 1] <= " ":
        end -= 1
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", s[start:end].lower())


def shingle_set(text: str, n: int = 3) -> set[str]:
    """Twin of ``operators.dedup.shingle_postings`` per-doc shingle set:
    distinct word n-grams; docs with < n tokens contribute the whole
    normalized token string."""
    norm = normalize_text(text)
    toks = norm.split(" ")
    if len(toks) >= n:
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    return {norm}


def minhash_signature(shingles: set[str], num_hashes: int = 32,
                      seed: int = 7) -> list[int]:
    """Twin of ``operators.dedup.minhash_signatures``."""
    base = [abs(spark_xxhash64_str_lit(g, seed)) % MINHASH_P for g in shingles]
    return [
        min((h * (2 * i + 1) + 7919 * (i + 1)) % MINHASH_P for h in base)
        for i in range(num_hashes)
    ]


def _band_pairs(buckets: dict) -> set[tuple]:
    """Pairs (a<b) sharing ANY bucket."""
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def ref_minhash_pairs(docs: list[tuple], num_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3) -> list[tuple]:
    """Twin of ``operators.dedup.minhash_lsh_pairs`` (defaults): banded
    minhash LSH candidates + exact shingle-Jaccard. ``docs`` is
    [(doc_id, text)]; returns [(id_a, id_b, jaccard)] with the SAME
    IEEE-double jaccard Spark computes (int/int division)."""
    rows_per_band = num_hashes // bands
    shingles = {i: shingle_set(t, shingle_n) for i, t in docs}
    buckets: dict = {}
    for i, _ in docs:
        sig = minhash_signature(shingles[i], num_hashes)
        for b in range(bands):
            chunk = sig[b * rows_per_band:(b + 1) * rows_per_band]
            # Spark: xxhash64(concat_ws(",", slice(sig, ...))) seed 42
            bucket = spark_xxhash64_str(",".join(str(v) for v in chunk))
            buckets.setdefault((b, bucket), []).append(i)
    out = []
    for a, b in _band_pairs(buckets):
        sa, sb = shingles[a], shingles[b]
        inter = len(sa & sb)
        union = len(sa) + len(sb) - inter
        out.append((a, b, float(inter) / float(union)))
    return out


def simhash64(text: str, seed: int = 11) -> int:
    """Twin of ``operators.dedup.simhash_expr`` (signed 64-bit)."""
    counts = [0] * 64
    for t in normalize_text(text).split(" "):
        if t == "":
            continue
        h = spark_xxhash64_str_lit(t, seed) & _M
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    v = 0
    for b in range(64):
        if counts[b] > 0:
            v |= 1 << b
    return signed64(v)


def _chunk16_pairs_hamming(items: list[tuple], max_hamming: int) -> list[tuple]:
    """Shared 4x16-bit band LSH + exact hamming over [(id, signed_h)] —
    twin of both simhash_near_dup_pairs and phash_near_dup_pairs."""
    buckets: dict = {}
    hmap = dict(items)
    for i, h in items:
        for b in range(4):
            # python >> on negative ints is arithmetic, same as Java
            chunk = (h >> (16 * b)) & 0xFFFF
            buckets.setdefault((b, chunk), []).append(i)
    out = []
    for a, b in _band_pairs(buckets):
        ham = bin((hmap[a] ^ hmap[b]) & _M).count("1")
        if ham <= max_hamming:
            out.append((a, b, ham))
    return out


def ref_simhash_pairs(docs: list[tuple], max_hamming: int = 3) -> list[tuple]:
    """Twin of ``operators.dedup.simhash_near_dup_pairs`` (defaults)."""
    return _chunk16_pairs_hamming(
        [(i, simhash64(t)) for i, t in docs], max_hamming)


# ------------------------------------------------------------- embeddings


def dot_fold(a: list[float], b: list[float]) -> float:
    """Twin of ``operators.similarity.dot_expr``: left-associated
    IEEE-double accumulation in index order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def cosine_fold(a: list[float], b: list[float]) -> float:
    """Twin of ``operators.similarity.cosine_expr`` (same op order)."""
    import math

    return dot_fold(a, b) / (math.sqrt(dot_fold(a, a)) * math.sqrt(dot_fold(b, b)))


def kmeans_core(x, n_centroids: int, iters: int = 8, seed: int = 13):
    """The numpy Lloyd's loop shared (verbatim math) with
    ``operators.similarity.kmeans_centroids`` — rows of ``x`` must
    already be the orderBy(id).limit(sample) sample, float64."""
    import numpy as np

    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cent.T
        assign = np.argmax(sims, axis=1)
        for c in range(len(cent)):
            m = assign == c
            if m.any():
                v = x[m].mean(axis=0)
                cent[c] = v / max(np.linalg.norm(v), 1e-12)
    return cent


def ref_ivf_topk(ids: list[int], vecs: list[list[float]],
                 query_max_id: int = 10, k: int = 5, n_centroids: int = 16,
                 nprobe: int = 6, sample: int = 4096, seed: int = 13,
                 iters: int = 8) -> list[tuple]:
    """Twin of ``operators.similarity.cosine_topk_ivf`` with the catalog's
    parameters: numpy k-means coarse quantizer (sorted-limit sample),
    argsort cluster assignment, candidate equi-join on cluster id, exact
    fold-order cosines, rank by (cosine desc, corpus_id asc)."""
    import numpy as np

    order = np.argsort(np.asarray(ids), kind="stable")
    xs = np.asarray([vecs[i] for i in order[:sample]], dtype=np.float64)
    cent = kmeans_core(xs, n_centroids, iters, seed)

    def assign(rows: list[list[float]], nprobe_: int):
        x = np.asarray([np.asarray(v, dtype=np.float64) for v in rows])
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cent.T
        return np.argsort(-sims, axis=1)[:, :nprobe_].astype(np.int32)

    corpus_cluster = assign(vecs, 1)[:, 0]
    cluster_members: dict = {}
    for idx, cid in enumerate(corpus_cluster):
        cluster_members.setdefault(int(cid), []).append(idx)

    q_idx = [i for i, vid in enumerate(ids) if vid < query_max_id]
    q_probes = assign([vecs[i] for i in q_idx], nprobe)
    out = []
    for qi, probes in zip(q_idx, q_probes):
        qv = [float(v) for v in vecs[qi]]
        cand = []
        for cid in probes:
            for ci in cluster_members.get(int(cid), []):
                cv = [float(v) for v in vecs[ci]]
                cand.append((ids[ci], cosine_fold(qv, cv)))
        cand.sort(key=lambda t: (-t[1], t[0]))
        for rank, (cid_, cos) in enumerate(cand[:k], start=1):
            out.append((ids[qi], cid_, cos, rank))
    return out


# ---------------------------------------------------------------- images


def ref_phash_pairs(n: int = 500, seed: int = 42,
                    max_hamming: int = 10) -> list[tuple]:
    """Twin of the ``image_phash_dedup`` catalog query: re-synthesize the
    deterministic image table's phash column (pure numpy encode→decode→
    aHash, no Spark) and band-join it exactly like simhash. Sorted by
    pair: the band pairs come from a set of string ids, whose iteration
    order follows PYTHONHASHSEED, and the twin must be the same string in
    every process."""
    from osm2geojson_spark.synth.images import make_image_row

    items = []
    for i in range(n):
        row = make_image_row(i * 2 + seed)
        items.append((row[0], row[6]))  # (image_id, phash)
    return sorted(_chunk16_pairs_hamming(items, max_hamming))


# ------------------------------------------------------------------- s2

# Hilbert traversal tables — see functions/s2.py (public S2 constants).
_S2_IJ_TO_POS = [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]]
_S2_POS_TO_ORIENT = [1, 0, 0, 3]
_S2_MAX_LEVEL = 30


def s2_encode(lon: float, lat: float, level: int = _S2_MAX_LEVEL) -> int:
    """Scalar pure-Python twin of ``functions.s2.encode_np`` (math module
    only; independent of the vectorized numpy kernel, shares just libm).
    Branch/tie-break order deliberately mirrors the numpy np.where /
    np.select chain so both paths pick the same face and (u,v)."""
    import math

    phi = math.radians(lat)
    lam = math.radians(lon)
    cphi = math.cos(phi)
    x = cphi * math.cos(lam)
    y = cphi * math.sin(lam)
    z = math.sin(phi)
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax >= ay and ax >= az:
        face = 0 if x >= 0.0 else 3
    elif ay >= az:
        face = 1 if y >= 0.0 else 4
    else:
        face = 2 if z >= 0.0 else 5
    u, v = [
        lambda: (y / x, z / x),       # +x
        lambda: (-x / y, z / y),      # +y
        lambda: (-x / z, -y / z),     # +z
        lambda: (z / x, y / x),       # -x
        lambda: (z / y, -x / y),      # -y
        lambda: (-y / z, -x / z),     # -z
    ][face]()

    def st(w: float) -> float:
        if w >= 0.0:
            return 0.5 * math.sqrt(1.0 + 3.0 * w)
        return 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * w)

    n = 1 << _S2_MAX_LEVEL
    i = min(max(int(math.floor(st(u) * n)), 0), n - 1)
    j = min(max(int(math.floor(st(v) * n)), 0), n - 1)

    pos = 0
    orient = face & 1
    for k in range(_S2_MAX_LEVEL - 1, -1, -1):
        ij2 = ((i >> k) & 1) << 1 | ((j >> k) & 1)
        p = _S2_IJ_TO_POS[orient][ij2]
        pos = (pos << 2) | p
        orient ^= _S2_POS_TO_ORIENT[p]

    cell = (face << 61) | (pos << 1) | 1
    if level < _S2_MAX_LEVEL:
        lsb = 1 << (2 * (_S2_MAX_LEVEL - level))
        cell = (cell & -lsb) | lsb
    return signed64(cell)


def s2_parent(cell: int, level: int) -> int:
    """Parent id at ``level`` (bit math on the signed-int64 bit pattern)."""
    u = cell & ((1 << 64) - 1)
    lsb = 1 << (2 * (_S2_MAX_LEVEL - level))
    return signed64((u & -lsb & ((1 << 64) - 1)) | lsb)


# ------------------------------------------------------------------ zonal

# convex hexagon offsets (unit pattern, scaled per zone) — slanted edges
# so partial-coverage masking is exercised, not just bbox clipping
_HEX_OFF = ((2, 0), (1, 2), (-1, 2), (-2, 0), (-1, -2), (1, -2))


def ref_zones(n_extra: int = 3) -> list[tuple]:
    """Deterministic zone polygons: one hexagon over each of the three
    synthetic 'cities' (synth/images._coords_for) plus ``n_extra`` at
    hash-scattered positions.  Shared by the Spark catalog query and the
    zonal oracle — pure int-derived arithmetic, no trig, no Spark."""
    zones = []
    for c in range(3):
        cx, cy = c * 40.0 - 60.0 + 0.5, c * 20.0 - 10.0 + 0.5
        s = 0.8 + 0.2 * c
        ring = [(cx + dx * s, cy + dy * s) for dx, dy in _HEX_OFF]
        zones.append((f"city-{c}", ring))
    for k in range(n_extra):
        h = (k * 2654435761 + 12345) & 0xFFFFFFFF
        cx = (h % 300_000_000) / 1_000_000.0 - 150.0
        cy = ((h // 7) % 140_000_000) / 1_000_000.0 - 70.0
        s = 0.6 + (h % 5) * 0.3
        ring = [(cx + dx * s, cy + dy * s) for dx, dy in _HEX_OFF]
        zones.append((f"z-{k}", ring))
    return zones


def _pip_many_np(px, py, ring):
    """Even-odd ray cast — the same arithmetic as spatial.pip._pip_many
    (kept separate so this module stays Spark-import-free)."""
    import numpy as np

    if len(ring) < 4:
        return np.zeros(len(px), dtype=bool)
    x1, y1 = ring[:-1, 0], ring[:-1, 1]
    x2, y2 = ring[1:, 0], ring[1:, 1]
    py_ = py[:, None]
    cross = (y1[None, :] > py_) != (y2[None, :] > py_)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (py_ - y1[None, :]) * (x2 - x1)[None, :] / (y2 - y1)[None, :]
    hits = cross & (px[:, None] < xint)
    return (np.count_nonzero(hits, axis=1) % 2).astype(bool)


def ref_zonal_stats(n: int = 240, seed: int = 42, zoom: int = 6,
                    n_extra_zones: int = 3, fmts=None) -> list[tuple]:
    """Twin of the ``zonal_stats`` catalog query: re-synthesize the image
    table, decode every candidate tile with the pure-Python codecs, mask
    pixel centers per zone, and aggregate — no Spark anywhere.  Returns
    sorted (zone_id, n_tiles, n_pix, sum_lum, mean_lum, min_lum,
    max_lum) rows."""
    import numpy as np

    from osm2geojson_spark.synth.images import DECODERS, FMTS_ALL, make_image_row

    fmts = fmts or FMTS_ALL
    zones = []
    for zid, pts in ref_zones(n_extra_zones):
        ring = np.asarray(pts, dtype=np.float64)
        ring = np.vstack([ring, ring[:1]])
        zones.append((zid, ring,
                      (ring[:, 0].min(), ring[:, 0].max(),
                       ring[:, 1].min(), ring[:, 1].max())))
    nz = 1 << zoom
    acc: dict = {}
    for i in range(n):
        image_id, buf, w, h, fmt, _cap, _ph, lon, lat = make_image_row(
            i * 2 + seed, fmts)
        ix = min(max(int(np.floor((lon - -180.0) / 360.0 * nz)), 0), nz - 1)
        iy = min(max(int(np.floor((lat - -90.0) / 180.0 * nz)), 0), nz - 1)
        x0, x1 = ix / nz * 360.0 - 180.0, (ix + 1) / nz * 360.0 - 180.0
        y0, y1 = iy / nz * 180.0 - 90.0, (iy + 1) / nz * 180.0 - 90.0
        hit = [(zid, ring) for zid, ring, (zx0, zx1, zy0, zy1) in zones
               if zx0 <= x1 and x0 <= zx1 and zy0 <= y1 and y0 <= zy1]
        if not hit:
            continue
        px = DECODERS[fmt](buf)
        lum = px.astype(np.int64).sum(axis=2)
        cx = x0 + (np.arange(w, dtype=np.float64) + 0.5) / w * (x1 - x0)
        cy = y1 - (np.arange(h, dtype=np.float64) + 0.5) / h * (y1 - y0)
        lons = np.broadcast_to(cx, (h, w)).ravel()
        lats = np.repeat(cy, w)
        flat = lum.ravel()
        for zid, ring in hit:
            m = _pip_many_np(lons, lats, ring)
            k = int(np.count_nonzero(m))
            if k == 0:
                continue
            sel = flat[m]
            t, p, s, lo, hi = acc.get(zid, (0, 0, 0, 1 << 62, -1))
            acc[zid] = (t + 1, p + k, s + int(sel.sum()),
                        min(lo, int(sel.min())), max(hi, int(sel.max())))
    return sorted(
        (zid, t, p, s, s / (3.0 * p), lo, hi)
        for zid, (t, p, s, lo, hi) in acc.items())


# -------------------------------------------------------------- SQL emit


def _sql_literal(v, typ: str) -> str:
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "DOUBLE":
        # VARCHAR→DOUBLE goes through strtod (correctly rounded), so the
        # exact IEEE double survives. A bare decimal literal would NOT:
        # DuckDB types it DECIMAL and the decimal→double cast is lossy
        # once the scaled mantissa exceeds 2^53.
        return f"CAST('{float(v)!r}' AS DOUBLE)"
    if typ == "VARCHAR":
        return "'" + str(v).replace("'", "''") + "'"
    return f"CAST({int(v)} AS {typ})"


def wkb_point_hex(lon: float, lat: float) -> str:
    """Spark-free twin of functions/wkb's point encoder: canonical
    little-endian WKB point, uppercase hex (matching Spark ``hex()``).
    Independent code path — stdlib struct here, numpy byte views in the
    Arrow kernel — so a byte match is evidence, not replay."""
    import struct as _struct

    return (b"\x01\x01\x00\x00\x00"
            + _struct.pack("<dd", lon, lat)).hex().upper()


def values_sql(rows: list[tuple], colspec: list[tuple]) -> str:
    """Literal-table SELECT: ``rows`` inlined as VALUES with per-column
    DuckDB casts. ``colspec`` = [(name, ducktype)]. Zero rows → typed
    empty relation (WHERE FALSE)."""
    names = ", ".join(n for n, _ in colspec)
    if not rows:
        cols = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in colspec)
        return f"SELECT {cols} WHERE FALSE"
    vals = ",\n".join(
        "(" + ", ".join(_sql_literal(v, t) for v, (_, t) in zip(r, colspec)) + ")"
        for r in rows
    )
    return f"SELECT * FROM (VALUES\n{vals}\n) AS t({names})"


# ------------------------------------------------------------------ BPE

def _bpe_merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge — the same carry-scan
    semantics as operators/bpe._merge_expr."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_bpe_merges(docs: list[tuple], num_merges: int = 30) -> list[tuple]:
    """Pure-Python BPE trainer twin of operators/bpe.train_bpe:
    word-frequency collapse, per-round pair argmax with (freq DESC,
    left ASC, right ASC) tie-break, greedy merge. Returns
    [(rank, left, right, pair_freq)]."""
    import collections
    import re

    freq: collections.Counter = collections.Counter()
    for _id, text in docs:
        for w in re.split(r"[^a-z0-9]+", text.lower()):
            if w:
                freq[w] += 1
    words: list[tuple[list[str], int]] = [
        (list(w[:-1]) + [w[-1] + "</w>"], f) for w, f in freq.items()
    ]

    merges: list[tuple] = []
    for rank in range(num_merges):
        pairs: collections.Counter = collections.Counter()
        for syms, f in words:
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        (left, right), pf = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, pf))
        words = [(_bpe_merge_word(s, left, right), f) for s, f in words]
    return merges


def ref_bpe_encode(docs: list[tuple], num_merges: int = 24) -> list[tuple]:
    """Twin of the bpe_encode catalog query: train with
    :func:`ref_bpe_merges`, then tokenize every document by replaying
    the merge list per word (same carry-scan semantics as
    operators/bpe.apply_bpe). Returns [(doc_id, n_words,
    n_bpe_tokens)] for documents with at least one word."""
    import re

    merges = [(l, r) for _rank, l, r, _f
              in ref_bpe_merges(docs, num_merges)]
    cache: dict = {}

    def enc_len(w: str) -> int:
        if w not in cache:
            syms = list(w[:-1]) + [w[-1] + "</w>"]
            for l, r in merges:
                syms = _bpe_merge_word(syms, l, r)
            cache[w] = len(syms)
        return cache[w]

    out = []
    for doc_id, text in docs:
        ws = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        if ws:
            out.append((doc_id, len(ws), sum(enc_len(w) for w in ws)))
    return out


# ------------------------------------------------------------------- PQ

def ref_pq_topk(ids: list[int], vecs: list[list[float]],
                query_max_id: int = 10, k: int = 5, m: int = 4,
                n_codes: int = 16, refine: int = 32, sample: int = 4096,
                iters: int = 8, seed: int = 29) -> list[tuple]:
    """Numpy full-pipeline twin of ``similarity.cosine_topk_pq``: same
    sorted-limit codebook sample, same per-subspace Lloyd iterations and
    rng.choice order, same ADC lexsort candidate cut, and the exact
    refine cosine via :func:`cosine_fold` (the F.aggregate fold order) —
    bit-identical end to end."""
    import numpy as np

    order = np.argsort(np.asarray(ids), kind="stable")
    x_all = np.asarray(vecs, dtype=np.float64)
    ids_arr = np.asarray(ids, dtype=np.int64)

    sx = x_all[order][:sample].copy()
    sx /= np.maximum(np.linalg.norm(sx, axis=1, keepdims=True), 1e-12)
    dim = sx.shape[1]
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub), dtype=np.float64)
    for s in range(m):
        xs = sx[:, s * dsub:(s + 1) * dsub]
        cent = xs[rng.choice(len(xs), size=min(n_codes, len(xs)),
                             replace=False)].copy()
        for _ in range(iters):
            d = ((xs[:, None, :] - cent[None]) ** 2).sum(-1)
            assign = np.argmin(d, axis=1)
            for c in range(len(cent)):
                msk = assign == c
                if msk.any():
                    cent[c] = xs[msk].mean(axis=0)
        books[s, : len(cent)] = cent

    xn = x_all / np.maximum(np.linalg.norm(x_all, axis=1, keepdims=True),
                            1e-12)
    codes = np.empty((len(xn), m), dtype=np.int64)
    for s in range(m):
        xs = xn[:, s * dsub:(s + 1) * dsub]
        d = ((xs[:, None, :] - books[s][None]) ** 2).sum(-1)
        codes[:, s] = np.argmin(d, axis=1)

    qmask = ids_arr < query_max_id
    out = []
    for qpos in np.argsort(ids_arr[qmask], kind="stable"):
        qid = int(ids_arr[qmask][qpos])
        qraw = x_all[qmask][qpos]
        qn = qraw / max(np.linalg.norm(qraw), 1e-12)
        lut = np.stack([
            (((qn[s * dsub:(s + 1) * dsub])[None, :] - books[s]) ** 2).sum(-1)
            for s in range(m)
        ])                                          # (m, n_codes)
        d = lut[np.arange(m), codes].sum(axis=1)     # (N,)
        cut = np.lexsort((ids_arr, d))[:refine]
        scored = sorted(
            ((cosine_fold(list(qraw), list(x_all[i])), int(ids_arr[i]))
             for i in cut),
            key=lambda t: (-t[0], t[1]))
        for rank, (cos, cid) in enumerate(scored[:k], 1):
            out.append((qid, cid, cos, rank))
    return out


# ------------------------------------------------------------- heatmap tiles

def _morton_spread(v: int) -> int:
    for s, m in ((16, 0x0000FFFF0000FFFF),
                 (8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F),
                 (2, 0x3333333333333333), (1, 0x5555555555555555)):
        v = (v << s | v) & m
    return v


def ref_heatmap(pts: "list[tuple]", res: int = 3,
                tile_px: int = 64) -> "list[tuple]":
    """Spark-free twin of spatial/heatmap.heatmap_tiles: (lon, lat)
    pairs -> [(tile, n_pts, png_hex)] with the IDENTICAL floor grid,
    integer max-normalization, and PNG serialization — the oracle
    checks the image bytes, not just counts."""
    import math
    from collections import Counter

    import numpy as np

    from osm2geojson_spark.synth.images import encode_png

    shift = tile_px.bit_length() - 1
    pix_res = res + shift
    n = 1 << pix_res
    cnt = Counter()
    for lon, lat in pts:
        ix = min(max(math.floor((lon - (-180.0)) / 360.0 * n), 0), n - 1)
        iy = min(max(math.floor((lat - (-90.0)) / 180.0 * n), 0), n - 1)
        cnt[(ix, iy)] += 1
    tiles: dict = {}
    for (ix, iy), c in cnt.items():
        tiles.setdefault(
            (_morton_spread(ix >> shift)
             | (_morton_spread(iy >> shift) << 1)), {},
        )[(ix & (tile_px - 1), iy & (tile_px - 1))] = c
    out = []
    for tile, pix in sorted(tiles.items()):
        dense = np.zeros((tile_px, tile_px), dtype=np.int64)
        for (px, py), c in pix.items():
            dense[py, px] = c
        gray = ((dense * 255) // int(dense.max())).astype(np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        out.append((tile, int(dense.sum()),
                    encode_png(rgb).hex().upper()))
    return out


# ------------------------------------------------------------------ routing

def grid_graph(n: int) -> "list[tuple]":
    """Spark-free twin of spatial/route.grid_edges: the deterministic
    n x n 4-neighbor grid road network with asymmetric integer weights
    w(u,v) = 1 + (u*73856093 + v*19349663) % 9 — bit-for-bit the graph
    the Spark builder emits."""
    edges = []
    for node in range(n * n):
        ix, iy = node % n, node // n
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            jx, jy = ix + dx, iy + dy
            if 0 <= jx < n and 0 <= jy < n:
                dst = jy * n + jx
                edges.append(
                    (node, dst, 1 + (node * 73856093 + dst * 19349663) % 9))
    return edges


def dijkstra(edges: "list[tuple]", source: int) -> "dict[int, int]":
    """Heap Dijkstra over integer weights — an INDEPENDENT algorithm
    from the Spark frontier Bellman-Ford, so a value match is evidence,
    not replay."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(list)
    for u, v, w in edges:
        if w < 0:
            raise ValueError("non-negative weights only")
        adj[u].append((v, w))
    dist: dict = {}
    heap = [(0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if u in dist:
            continue
        dist[u] = d
        for v, w in adj[u]:
            if v not in dist:
                heapq.heappush(heap, (d + w, v))
    return dist


def ref_shortest_paths(n: int, source: int = 0) -> "list[tuple]":
    """(node_id, dist) rows for the n x n grid network."""
    dist = dijkstra(grid_graph(n), source)
    return sorted(dist.items())


def ref_route(n: int, source: int, target: int) -> "list[tuple]":
    """(pos, node_id) rows of the deterministic shortest route
    target -> source on the grid network: pred[v] = smallest u with
    dist[u] + w(u,v) == dist[v] (the same OUTPUT-level tie rule
    route_predecessors applies, so any correct SSSP yields this path)."""
    edges = grid_graph(n)
    dist = dijkstra(edges, source)
    pred: dict = {}
    for u, v, w in edges:
        if u in dist and v in dist and dist[u] + w == dist[v]:
            if v not in pred or u < pred[v]:
                pred[v] = u
    path = [target]
    while path[-1] != source:
        path.append(pred[path[-1]])
    return list(enumerate(path))


def ref_vector_tiles(pts: "list[tuple]", res: int = 3,
                     extent: int = 4096) -> "list[tuple]":
    """Spark-free twin of spatial/mvt.vector_tiles: (lon, lat) pairs ->
    [(tile, n_features, n_pts, mvt_hex)] with the identical floor grid
    and the identical deterministic layer serialization — the oracle
    checks the protobuf TILE BYTES, not just counts."""
    import math
    from collections import Counter

    from osm2geojson_spark.spatial.mvt import point_layer_bytes

    shift = extent.bit_length() - 1
    pix_res = res + shift
    n = 1 << pix_res
    cnt = Counter()
    for lon, lat in pts:
        ix = min(max(math.floor((lon - (-180.0)) / 360.0 * n), 0), n - 1)
        iy = min(max(math.floor((lat - (-90.0)) / 180.0 * n), 0), n - 1)
        cnt[(ix, iy)] += 1
    tiles: dict = {}
    for (ix, iy), c in cnt.items():
        tile = (_morton_spread(ix >> shift)
                | (_morton_spread(iy >> shift) << 1))
        tiles.setdefault(tile, []).append(
            (ix & (extent - 1), iy & (extent - 1), c))
    out = []
    for tile, pixels in sorted(tiles.items()):
        buf = point_layer_bytes(pixels, extent=extent)
        out.append((tile, len(pixels), sum(c for _, _, c in pixels),
                    buf.hex().upper()))
    return out


def ref_convex_hull(pts: "list[tuple]") -> "list[tuple]":
    """(pos, x, y) canonical CCW hull rows — single-pass Spark-free twin
    of spatial/hull.convex_hull (same monotone chain, applied once to
    the full set instead of partial-then-merge)."""
    from osm2geojson_spark.spatial.hull import monotone_chain

    return [(i, x, y) for i, (x, y) in enumerate(monotone_chain(pts))]


def ref_travel_matrix(n: int, sources: "list[int]") -> "list[tuple]":
    """(src, node_id, dist) rows — per-source heap Dijkstra over the
    grid network (independent of the batched frontier algorithm)."""
    edges = grid_graph(n)
    out = []
    for s in sources:
        for node, d in sorted(dijkstra(edges, s).items()):
            out.append((s, node, d))
    return out


def ref_catchment(n: int, sources: "list[int]") -> "list[tuple]":
    """(node_id, nearest_src, dist) with the min(dist, src) tie rule."""
    best: dict = {}
    for s, node, d in ref_travel_matrix(n, sources):
        if node not in best or (d, s) < best[node]:
            best[node] = (d, s)
    return sorted((node, s, d) for node, (d, s) in best.items())


def ref_simplify_paths(rows: "list[tuple]", eps: float) -> "list[tuple]":
    """(user_id, pos, x, y) rows of the RDP-simplified per-user ordered
    path — Spark-free replay: per-user sort by (ts, event_id), int-
    derived coords, the same vectorized rdp_mask kernel applied without
    any Spark plumbing (kernel correctness itself is pinned separately
    by the hypothesis property tests in tests/test_simplify.py)."""
    import numpy as np

    from osm2geojson_spark.spatial.simplify import rdp_mask

    LON_MUL, LAT_MUL, LAT_OFF = 2654435761, 2246822519, 1013904223
    by_user: dict = {}
    for user_id, event_id, ts in rows:
        by_user.setdefault(user_id, []).append((ts, event_id))
    out = []
    for user_id, evs in sorted(by_user.items()):
        evs.sort()
        pts = np.array(
            [[float((e * LON_MUL) % 360_000_000) / 1e6 - 180.0,
              float((e * LAT_MUL + LAT_OFF) % 170_000_000) / 1e6 - 85.0]
             for _, e in evs], dtype=np.float64)
        m = rdp_mask(pts, eps)
        for pos, (x, y) in enumerate(pts[m]):
            out.append((user_id, pos, float(x), float(y)))
    return out


# star polygon shared by q_polyfill and its oracle: non-convex, with a
# rectangular hole — literal vertices (no trig), closed rings
POLYFILL_STAR = [(100.0, 10.0), (110.0, 40.0), (118.0, 18.0),
                 (126.0, 40.0), (134.0, 12.0), (140.0, 35.0),
                 (145.0, 5.0), (120.0, -5.0), (100.0, 10.0)]
POLYFILL_HOLE = [(115.0, 8.0), (125.0, 8.0), (125.0, 16.0),
                 (115.0, 16.0), (115.0, 8.0)]


def ref_polyfill(region_keys: "list[int]", res: int = 6) -> "list[tuple]":
    """(poly_id, cell, ix, iy) rows — Spark-free polyfill replay: bbox
    lattice per polygon, cell-center even-odd test via the same
    vectorized ray-cast kernel the PIP join broadcasts."""
    import math

    import numpy as np

    from osm2geojson_spark.spatial.pip import _pip_many

    n = 1 << res

    def clamp_ix(lon):
        return min(max(math.floor((lon + 180.0) / 360.0 * n), 0), n - 1)

    def clamp_iy(lat):
        return min(max(math.floor((lat + 90.0) / 180.0 * n), 0), n - 1)

    polys = []
    for rk in region_keys:
        x0, x1 = rk * 60 - 170.0000005, rk * 60 - 140.0000005
        y0, y1 = rk * 25 - 60.0000005, rk * 25 - 40.0000005
        polys.append((rk, [(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)],
                      []))
    polys.append((100, POLYFILL_STAR, [POLYFILL_HOLE]))

    out = []
    for pid, ring, holes in polys:
        r = np.asarray(ring, dtype=np.float64)
        hs = [np.asarray(h, dtype=np.float64) for h in holes]
        lons = [p[0] for p in ring]
        lats = [p[1] for p in ring]
        for ix in range(clamp_ix(min(lons)), clamp_ix(max(lons)) + 1):
            cx = ((float(ix) + 0.5) / float(n)) * 360.0 - 180.0
            for iy in range(clamp_iy(min(lats)), clamp_iy(max(lats)) + 1):
                cy = ((float(iy) + 0.5) / float(n)) * 180.0 - 90.0
                px, py = np.array([cx]), np.array([cy])
                hit = bool(_pip_many(px, py, r)[0])
                for h in hs:
                    if hit:
                        hit = hit and not bool(_pip_many(px, py, h)[0])
                if hit:
                    cell = (_morton_spread(ix) | (_morton_spread(iy) << 1))
                    out.append((pid, cell, ix, iy))
    return sorted(out)


def ref_heatmap_overview(pts: "list[tuple]", res: int = 3,
                         tile_px: int = 64) -> "list[tuple]":
    """Spark-free twin of heatmap_tiles → overview_tiles: leaf tiles
    re-binned + rendered, then decoded, 2x2 integer-averaged and placed
    into parent quadrants. [(tile, n_children, n_pts, png_hex)]."""
    import numpy as np

    from osm2geojson_spark.synth.images import decode_png, encode_png

    half = tile_px // 2
    parents: dict = {}
    for tile, n_pts, png_hex in ref_heatmap(pts, res=res, tile_px=tile_px):
        px = decode_png(bytes.fromhex(png_hex)).astype(np.uint32)
        ds = ((px[0::2, 0::2] + px[1::2, 0::2]
               + px[0::2, 1::2] + px[1::2, 1::2]) // 4).astype(np.uint8)
        p = parents.setdefault(tile >> 2, {
            "canvas": np.zeros((tile_px, tile_px, 3), dtype=np.uint8),
            "n_children": 0, "n_pts": 0})
        y0, x0 = ((tile >> 1) & 1) * half, (tile & 1) * half
        p["canvas"][y0:y0 + half, x0:x0 + half] = ds
        p["n_children"] += 1
        p["n_pts"] += n_pts
    return [(t, p["n_children"], p["n_pts"],
             encode_png(p["canvas"]).hex().upper())
            for t, p in sorted(parents.items())]


def ref_pagerank(edges: "list[tuple]", n_iters: int = 10,
                 damping_pct: int = 85, scale: int = 10**12) -> "list[tuple]":
    """(node_id, mass) — pure-Python twin of operators/graph.pagerank:
    identical integer floor arithmetic, so bit-exact at any iteration
    count (edges may carry extra fields; only (src, dst) are used)."""
    from collections import defaultdict

    e = sorted({(int(r[0]), int(r[1])) for r in edges})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    deg = defaultdict(int)
    for u, _ in e:
        deg[u] += 1
    teleport = ((100 - damping_pct) * scale // 100) // n
    mass = {v: scale // n for v in nodes}
    for _ in range(n_iters):
        dangling = sum(m for v, m in mass.items() if deg[v] == 0)
        inflow = defaultdict(int)
        for u, v in e:
            if deg[u] > 0:
                inflow[v] += mass[u] // deg[u]
        mass = {
            v: teleport
            + (damping_pct * (inflow[v] + dangling // n)) // 100
            for v in nodes
        }
    return sorted(mass.items())


def ref_line_tiles(paths: "list[tuple]", res: int = 3,
                   extent: int = 4096,
                   max_seg_px: "int | None" = None) -> "list[tuple]":
    """Spark-free twin of spatial/cliptile.line_tiles: ``[(path_id,
    [(lon, lat), ...])]`` ordered paths -> [(tile, n_features,
    n_vertices, mvt_hex)]. Uses the SCALAR Fraction clipper and a
    scalar chain walk (the Spark kernel is vectorized int64 numpy —
    two independent implementations meeting at the protobuf bytes)."""
    import math

    from osm2geojson_spark.spatial.cliptile import (
        clip_segment,
        linestring_layer_bytes,
    )

    shift = extent.bit_length() - 1
    pix_res = res + shift
    n = 1 << pix_res
    if max_seg_px is None:
        max_seg_px = extent

    tiles: dict = {}
    for pid, pts in paths:
        g = []
        for lon, lat in pts:
            ix = min(max(math.floor((lon - (-180.0)) / 360.0 * n), 0), n - 1)
            iy = min(max(math.floor((lat - (-90.0)) / 180.0 * n), 0), n - 1)
            g.append((ix, iy))
        for s in range(len(g) - 1):
            (x0, y0), (x1, y1) = g[s], g[s + 1]
            if max(abs(x1 - x0), abs(y1 - y0)) > max_seg_px:
                continue
            for tx in range(min(x0, x1) >> shift,
                            (max(x0, x1) >> shift) + 1):
                for ty in range(min(y0, y1) >> shift,
                                (max(y0, y1) >> shift) + 1):
                    bx0, by0 = tx << shift, ty << shift
                    c = clip_segment(x0, y0, x1, y1, bx0, by0,
                                     bx0 + extent - 1, by0 + extent - 1)
                    if c is None:
                        continue
                    tile = (_morton_spread(tx)
                            | (_morton_spread(ty) << 1))
                    tiles.setdefault(tile, []).append(
                        (pid, s, c[0][0] - bx0, c[0][1] - by0,
                         c[1][0] - bx0, c[1][1] - by0))
    out = []
    for tile, rows in sorted(tiles.items()):
        rows.sort()
        chains: list = []
        for pid, s, ax, ay, bx, by in rows:
            if (chains and chains[-1][0] == pid
                    and s == chains[-1][3] + 1
                    and (ax, ay) == chains[-1][2][-1]):
                chains[-1][2].append((bx, by))
                chains[-1][3] = s
            else:
                chains.append([pid, s, [(ax, ay), (bx, by)], s])
        feats = [(pid, s0, verts) for pid, s0, verts, _last in chains]
        buf = linestring_layer_bytes(feats, extent=extent)
        out.append((tile, len(feats),
                    sum(len(v) for _p, _s, v in feats),
                    buf.hex().upper()))
    return out


def ref_polygon_tiles(polys: "list[tuple]", res: int = 3,
                      extent: int = 4096) -> "list[tuple]":
    """Spark-free twin of spatial/polytile.polygon_tiles: ``[(poly_id,
    [ring0, ring1, ...])]`` with rings as ordered (lon, lat) lists
    (ring 0 = exterior) -> [(tile, n_features, n_rings, mvt_hex)].
    Uses the SCALAR integer Sutherland-Hodgman and a scalar grouping
    walk (the Spark kernel is vectorized int64 numpy — two independent
    implementations meeting at the protobuf bytes)."""
    import math

    from osm2geojson_spark.spatial.polytile import (
        clip_ring,
        polygon_layer_bytes,
        shoelace2,
    )

    shift = extent.bit_length() - 1
    pix_res = res + shift
    n = 1 << pix_res
    tiles: dict = {}
    for pid, rings in polys:
        for ridx, ring in enumerate(rings):
            g = []
            for lon, lat in ring:
                ix = min(max(math.floor((lon - (-180.0)) / 360.0 * n),
                             0), n - 1)
                iy = min(max(math.floor((lat - (-90.0)) / 180.0 * n),
                             0), n - 1)
                g.append((ix, iy))
            xs = [p[0] for p in g]
            ys = [p[1] for p in g]
            for tx in range(min(xs) >> shift, (max(xs) >> shift) + 1):
                for ty in range(min(ys) >> shift, (max(ys) >> shift) + 1):
                    bx0, by0 = tx << shift, ty << shift
                    c = clip_ring(g, bx0, by0, bx0 + extent - 1,
                                  by0 + extent - 1)
                    if c is None:
                        continue
                    local = [(x - bx0, y - by0) for x, y in c]
                    tile = (_morton_spread(tx)
                            | (_morton_spread(ty) << 1))
                    tiles.setdefault(tile, {}).setdefault(pid, []).append(
                        (ridx, shoelace2(local), local))
    out = []
    for tile, by_pid in sorted(tiles.items()):
        feats = []
        n_rings = 0
        for pid in sorted(by_pid):
            rows = sorted(by_pid[pid], key=lambda t: t[0])
            if rows[0][0] != 0:
                continue
            rr = [(a2, loc) for _ridx, a2, loc in rows]
            if abs(rr[0][0]) - sum(abs(a2) for a2, _l in rr[1:]) == 0:
                continue
            feats.append((pid, rr))
            n_rings += len(rr)
        buf = polygon_layer_bytes(feats, extent=extent)
        out.append((tile, len(feats), n_rings, buf.hex().upper()))
    return out


# -------------------------------------------------------- D8 hydrology
_D8_REF = [(1, 0, 1, 99), (1, 1, 2, 70), (0, 1, 4, 99), (-1, 1, 8, 70),
           (-1, 0, 16, 99), (-1, -1, 32, 70), (0, -1, 64, 99),
           (1, -1, 128, 70)]


def _dem_ref(x: int, y: int) -> int:
    """The catalog DEM closed form (spatial/focal.py dem_value_np) as
    scalar ints — same FORMULA (it is the spec), independent CODE."""
    return (x * 73 + y * 19) % 100 + (x * x + 3 * y * y) % 7


def _flow_tgt_ref(w: int) -> "list":
    """Per-cell D8 flow target (clamped; None for pits) — scalar-python
    twin of the focal flowdir8 kernel + flow_cells composition."""
    tgt = [None] * (w * w)
    for y in range(w):
        for x in range(w):
            c = _dem_ref(min(max(x, 0), w - 1), min(max(y, 0), w - 1))
            best_s, best_code, best_d = 0, 0, None
            for dx, dy, code, wt in _D8_REF:
                nx = min(max(x + dx, 0), w - 1)
                ny = min(max(y + dy, 0), w - 1)
                s = (c - _dem_ref(nx, ny)) * wt
                if s > best_s:  # strict: first max in scan order wins
                    best_s, best_code, best_d = s, code, (nx, ny)
            if best_code:
                tgt[y * w + x] = best_d[1] * w + best_d[0]
    return tgt


def ref_strahler(w: int) -> "list[tuple]":
    """Strahler stream order over the closed-form D8 forest: memoized
    post-order walk (leaves 1; max child order, +1 when >= 2 children
    attain it). Returns [(cell, strahler)] sorted by cell."""
    tgt = _flow_tgt_ref(w)
    children: "dict[int, list[int]]" = {}
    for cell, t in enumerate(tgt):
        if t is not None:
            children.setdefault(t, []).append(cell)
    order = [0] * (w * w)
    # iterative post-order (flow paths are short but stay loop-safe)
    for start in range(w * w):
        stack = [start]
        while stack:
            cell = stack[-1]
            if order[cell]:
                stack.pop()
                continue
            kids = children.get(cell, ())
            todo = [k for k in kids if not order[k]]
            if todo:
                stack.extend(todo)
                continue
            if not kids:
                order[cell] = 1
            else:
                m = max(order[k] for k in kids)
                cnt = sum(1 for k in kids if order[k] == m)
                order[cell] = m + 1 if cnt >= 2 else m
            stack.pop()
    return [(cell, order[cell]) for cell in range(w * w)]


def ref_k_core(edges: "list[tuple]", k: int) -> "list[tuple]":
    """Asynchronous k-core peel (deletions take effect immediately
    within a sweep — a DIFFERENT schedule from the engine's synchronous
    rounds; the fixpoint is unique either way). Returns [(node, deg)]
    for the surviving core, sorted by node."""
    adj: "dict[int, set]" = {}
    for s, d in edges:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if n in adj and len(adj[n]) < k:
                for m in adj.pop(n):
                    if m in adj:
                        adj[m].discard(n)
                changed = True
    return sorted((n, len(v)) for n, v in adj.items())


def _thumb_ref(px, out_w: int = 8, out_h: int = 8) -> "list[int]":
    """Pure-python exact box-filter thumbnail (flat y,x,channel list):
    per-block sums accumulated ROW BY ROW in python ints (the engine
    reduces whole blocks in numpy — different summation route, same
    integers), round-half-up ``(2s + c) // (2c)``."""
    h, w = px.shape[0], px.shape[1]
    ys = [i * h // out_h for i in range(out_h + 1)]
    xs = [j * w // out_w for j in range(out_w + 1)]
    out: "list[int]" = []
    for i in range(out_h):
        for j in range(out_w):
            s = [0, 0, 0]
            cnt = 0
            for y in range(ys[i], ys[i + 1]):
                for x in range(xs[j], xs[j + 1]):
                    for c in range(3):
                        s[c] += int(px[y, x, c])
                    cnt += 1
            out.extend((2 * s[c] + cnt) // (2 * cnt) for c in range(3))
    return out


def _image_corpus(n: int, seed: int, fmts=None) -> "list[tuple]":
    """Re-synthesized [(image_id, fmt, decoded_px)] — shared by the
    image-oracle twins below (same seeds as ``images_table``)."""
    from osm2geojson_spark.synth.images import (
        DECODERS,
        FMTS_TIFF,
        make_image_row,
    )

    fmts = fmts or FMTS_TIFF
    out = []
    for i in range(n):
        image_id, buf, _w, _h, fmt, _cap, _ph, _lon, _lat = make_image_row(
            i * 2 + seed, fmts)
        out.append((image_id, fmt, DECODERS[fmt](buf)))
    return out


def ref_resize(n: int = 300, seed: int = 42, fmts=None,
               out_w: int = 8, out_h: int = 8) -> "list[tuple]":
    """Twin of the ``image_resize`` catalog query: exact-integer
    thumbnails via ``_thumb_ref`` → ppm encode → md5 hex. Returns
    [(image_id, fmt, w, h, thumb_md5)]."""
    import hashlib

    import numpy as np

    from osm2geojson_spark.synth.images import ENCODERS

    out = []
    for image_id, fmt, px in _image_corpus(n, seed, fmts):
        vec = _thumb_ref(px, out_w, out_h)
        thumb = np.array(vec, dtype=np.uint8).reshape(out_h, out_w, 3)
        md5 = hashlib.md5(ENCODERS["ppm"](thumb)).hexdigest()
        out.append((image_id, fmt, out_w, out_h, md5))
    return out


def ref_mse_pairs(n: int = 300, seed: int = 42, fmts=None,
                  max_hamming: int = 10) -> "list[tuple]":
    """Twin of ``image_mse_dedup``: phash band-LSH candidates (the
    simhash twin machinery) verified by exact integer thumbnail SSE.
    Returns [(id_a, id_b, hamming, sse)] sorted by pair."""
    from osm2geojson_spark.synth.images import FMTS_TIFF, make_image_row

    fmts = fmts or FMTS_TIFF
    items, thumbs = [], {}
    for i in range(n):
        row = make_image_row(i * 2 + seed, fmts)
        items.append((row[0], row[6]))
    for image_id, fmt, px in _image_corpus(n, seed, fmts):
        thumbs[image_id] = _thumb_ref(px)
    out = []
    for a, b, ham in _chunk16_pairs_hamming(items, max_hamming):
        sse = sum((x - y) * (x - y)
                  for x, y in zip(thumbs[a], thumbs[b]))
        out.append((a, b, ham, sse))
    return sorted(out)


def ref_color_hist(n: int = 300, seed: int = 42, fmts=None,
                   bins_per_channel: int = 4) -> "list[tuple]":
    """Twin of ``color_histogram``: python-dict bin accumulation (the
    engine uses ``np.bincount``). Ties on the top bin break to the
    LOWEST bin id. Returns [(image_id, fmt, n_px, n_bins_used, top_bin,
    top_count)]."""
    b = bins_per_channel
    div = 256 // b
    out = []
    for image_id, fmt, px in _image_corpus(n, seed, fmts):
        counts: "dict[int, int]" = {}
        h, w = px.shape[0], px.shape[1]
        for y in range(h):
            for x in range(w):
                bin_id = ((int(px[y, x, 0]) // div) * b * b
                          + (int(px[y, x, 1]) // div) * b
                          + (int(px[y, x, 2]) // div))
                counts[bin_id] = counts.get(bin_id, 0) + 1
        top = min(k for k, v in counts.items()
                  if v == max(counts.values()))
        out.append((image_id, fmt, h * w, len(counts), top, counts[top]))
    return out


def ref_traj_sim(n_objs: int = 60, m: int = 24,
                 group_mod: int = 6) -> "list[tuple]":
    """Twin of the ``trajectory_dtw`` catalog query: same int-lattice
    synth as queries._haus_points, but the DPs run as MEMOIZED
    RECURSION from the (end,end) corner (the engine rolls rows forward
    — different evaluation order, same integers). Returns sorted
    [(id_a, id_b, dtw_sq_sum, frechet_sq)]."""
    import sys

    lon_mul, lat_mul = 2654435761, 2246822519

    def pts(obj):
        return [(((obj * 31 + i * 17 + 3) * lon_mul) % 1_000_000,
                 ((obj * 29 + i * 13 + 11) * lat_mul) % 1_000_000)
                for i in range(m)]

    def solve(pa, pb):
        c = [[(ax - bx) ** 2 + (ay - by) ** 2 for bx, by in pb]
             for ax, ay in pa]
        memo_d: "dict[tuple, int]" = {}
        memo_f: "dict[tuple, int]" = {}

        def dtw(i, j):
            if (i, j) in memo_d:
                return memo_d[(i, j)]
            if i == 0 and j == 0:
                v = c[0][0]
            elif i == 0:
                v = dtw(0, j - 1) + c[0][j]
            elif j == 0:
                v = dtw(i - 1, 0) + c[i][0]
            else:
                v = c[i][j] + min(dtw(i - 1, j), dtw(i, j - 1),
                                  dtw(i - 1, j - 1))
            memo_d[(i, j)] = v
            return v

        def fre(i, j):
            if (i, j) in memo_f:
                return memo_f[(i, j)]
            if i == 0 and j == 0:
                v = c[0][0]
            elif i == 0:
                v = max(fre(0, j - 1), c[0][j])
            elif j == 0:
                v = max(fre(i - 1, 0), c[i][0])
            else:
                v = max(c[i][j], min(fre(i - 1, j), fre(i, j - 1),
                                     fre(i - 1, j - 1)))
            memo_f[(i, j)] = v
            return v

        old = sys.getrecursionlimit()
        sys.setrecursionlimit(max(old, 4 * (len(pa) + len(pb)) + 100))
        try:
            return dtw(len(pa) - 1, len(pb) - 1), \
                fre(len(pa) - 1, len(pb) - 1)
        finally:
            sys.setrecursionlimit(old)

    out = []
    for a in range(n_objs):
        for b in range(a + 1, n_objs):
            if a % group_mod == b % group_mod:
                d, f = solve(pts(a), pts(b))
                out.append((a, b, d, f))
    return sorted(out)


def ref_compression(n: int = 300, level: int = 6) -> "list[tuple]":
    """Twin of the ``compression_ratio`` catalog query: the same
    deterministic synthetic texts (id-dependent repetition + md5 tail —
    the Spark side builds them with concat/repeat/md5 expressions),
    byte counts from stdlib zlib at the same fixed level. Returns
    [(doc_id, raw_len, zlib_len, compress_ratio)]."""
    import hashlib
    import zlib

    out = []
    for i in range(n):
        text = (f"doc {i} " + ("spam ham " * (i % 23)) + ("x" * (i % 17))
                + hashlib.md5(str(i).encode()).hexdigest()[:8])
        raw = text.encode("utf-8")
        comp = zlib.compress(raw, level)
        out.append((i, len(raw), len(comp),
                    float(len(comp)) / float(len(raw))))
    return out


def ref_sharpness(n: int = 300, seed: int = 42, fmts=None) -> "list[tuple]":
    """Twin of the sharpness catalog query: re-synthesize the corpus,
    decode with the pure-Python codecs, accumulate the Laplacian
    moments ROW BY ROW in python ints (a different summation route from
    the engine's whole-array numpy reduction — int exactness makes them
    meet anyway). Returns [(image_id, fmt, n_interior, lap_sum,
    lap_sq_sum)]."""
    import numpy as np

    from osm2geojson_spark.synth.images import (
        DECODERS,
        FMTS_TIFF,
        make_image_row,
    )

    fmts = fmts or FMTS_TIFF
    out = []
    for i in range(n):
        image_id, buf, _w, _h, fmt, _cap, _ph, _lon, _lat = make_image_row(
            i * 2 + seed, fmts)
        px = DECODERS[fmt](buf).astype(np.int64)
        lum = px[..., 0] * 299 + px[..., 1] * 587 + px[..., 2] * 114
        n_i, s, s2 = 0, 0, 0
        if lum.shape[0] >= 3 and lum.shape[1] >= 3:
            for y in range(1, lum.shape[0] - 1):
                row = (4 * lum[y, 1:-1]
                       - lum[y - 1, 1:-1] - lum[y + 1, 1:-1]
                       - lum[y, :-2] - lum[y, 2:])
                n_i += int(row.size)
                s += int(row.sum())
                s2 += int((row * row).sum())
        out.append((image_id, fmt, n_i, s, s2))
    return out


def ref_blobs(n: int = 300, seed: int = 42, fmts=None,
              luma_threshold: int = 128) -> "list[tuple]":
    """Twin of the image_blobs catalog query: decode with the same
    pure-Python codecs, then label 4-connected bright components with
    an explicit BFS flood-fill stack (row-major seed order) — a
    different route from the engine's numpy min-label propagation.
    Returns [(image_id, fmt, n_fg, n_blobs, max_blob, blob_sq_sum)]."""
    from osm2geojson_spark.synth.images import (
        DECODERS,
        FMTS_TIFF,
        make_image_row,
    )

    fmts = fmts or FMTS_TIFF
    thr = luma_threshold * 1000
    out = []
    for i in range(n):
        image_id, buf, w, h, fmt, _cap, _ph, _lon, _lat = make_image_row(
            i * 2 + seed, fmts)
        px = DECODERS[fmt](buf)
        fg = [[(int(px[y, x, 0]) * 299 + int(px[y, x, 1]) * 587
                + int(px[y, x, 2]) * 114) >= thr
               for x in range(w)] for y in range(h)]
        seen = [[False] * w for _ in range(h)]
        sizes = []
        for y in range(h):
            for x in range(w):
                if fg[y][x] and not seen[y][x]:
                    stack, size = [(y, x)], 0
                    seen[y][x] = True
                    while stack:
                        cy, cx = stack.pop()
                        size += 1
                        for ny, nx in ((cy - 1, cx), (cy + 1, cx),
                                       (cy, cx - 1), (cy, cx + 1)):
                            if (0 <= ny < h and 0 <= nx < w
                                    and fg[ny][nx] and not seen[ny][nx]):
                                seen[ny][nx] = True
                                stack.append((ny, nx))
                    sizes.append(size)
        out.append((image_id, fmt, sum(sizes), len(sizes),
                    max(sizes) if sizes else 0,
                    sum(s * s for s in sizes)))
    return out


def ref_borders(n: int = 300, seed: int = 42) -> "list[tuple]":
    """Twin of the image_borders catalog query over the letterboxed
    lossless corpus: python-loop margin scan (top/left vs the top-left
    corner, bottom/right vs the bottom-right). Returns
    [(image_id, fmt, top, bottom, left_m, right_m, content_w,
    content_h)]."""
    from osm2geojson_spark.synth.images import (
        DECODERS,
        make_letterboxed_row,
    )

    out = []
    for i in range(n):
        image_id, buf, w, h, fmt, _cap, _ph, _lon, _lat = \
            make_letterboxed_row(i * 2 + seed)
        px = DECODERS[fmt](buf)

        def row_is(y, ref):
            return all(tuple(px[y, x]) == ref for x in range(w))

        def col_is(x, ref):
            return all(tuple(px[y, x]) == ref for y in range(h))

        tl, br = tuple(px[0, 0]), tuple(px[h - 1, w - 1])
        tm = 0
        while tm < h and row_is(tm, tl):
            tm += 1
        bm = 0
        if tm < h:
            while bm < h and row_is(h - 1 - bm, br):
                bm += 1
        lm = 0
        while lm < w and col_is(lm, tl):
            lm += 1
        rm = 0
        if lm < w:
            while rm < w and col_is(w - 1 - rm, br):
                rm += 1
        out.append((image_id, fmt, tm, bm, lm, rm,
                    w - lm - rm, h - tm - bm))
    return out


_COST_OFFS_REF = [(1, 0, 70), (-1, 0, 70), (0, 1, 70), (0, -1, 70),
                  (1, 1, 99), (-1, 1, 99), (1, -1, 99), (-1, -1, 99)]


def ref_cost_distance(w: int, source: int) -> "list[tuple]":
    """Heap-Dijkstra twin of the cost_distance raster op: the catalog
    DEM closed form is the cost surface, 8-neighbor edges weighted
    (cost_a + cost_b) · 70 straight / · 99 diagonal. Returns sorted
    (node_id, dist)."""
    cost = [_dem_ref(x, y) for y in range(w) for x in range(w)]
    edges = []
    for y in range(w):
        for x in range(w):
            u = y * w + x
            for dx, dy, m in _COST_OFFS_REF:
                nx, ny = x + dx, y + dy
                if 0 <= nx < w and 0 <= ny < w:
                    v = ny * w + nx
                    edges.append((u, v, (cost[u] + cost[v]) * m))
    return sorted(dijkstra(edges, source).items())


def ref_raster_pyramid(w: int, levels: int) -> "list[tuple]":
    """Nested 2x2 floor-mean overviews of the closed-form DEM —
    whole-grid numpy (no tiling, no shuffle) vs the engine's tiled
    merge. Returns (level, x, y, v) rows."""
    import numpy as np

    gx = np.arange(w, dtype=np.int64)[None, :]
    gy = np.arange(w, dtype=np.int64)[:, None]
    cur = (gx * 73 + gy * 19) % 100 + (gx * gx + 3 * gy * gy) % 7
    cur = np.broadcast_to(cur, (w, w)).astype(np.int64)
    out = []
    for lvl in range(1, levels + 1):
        cur = (cur[0::2, 0::2] + cur[0::2, 1::2]
               + cur[1::2, 0::2] + cur[1::2, 1::2]) // 4
        for y in range(cur.shape[0]):
            for x in range(cur.shape[1]):
                out.append((lvl, x, y, int(cur[y, x])))
    return out


def ref_multimodal_clusters(n: int = 500, seed: int = 42,
                            jaccard_threshold: float = 0.6,
                            phash_max_hamming: int = 10) -> "list[tuple]":
    """Twin of multimodal_dup_clusters: phash band pairs ∪ thresholded
    caption minhash pairs → UNION-FIND (always attaching the larger root
    under the smaller, so roots are component minima — a different
    algorithm from the engine's min-label propagation). Returns sorted
    (id, cluster_id)."""
    from osm2geojson_spark.synth.images import make_image_row

    docs = []
    for i in range(n):
        row = make_image_row(i * 2 + seed)
        docs.append((row[0], row[5]))
    cap = [(a, b) for a, b, j in ref_minhash_pairs(docs)
           if j >= jaccard_threshold]
    img = [(a, b) for a, b, _h in ref_phash_pairs(
        n=n, seed=seed, max_hamming=phash_max_hamming)]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = cap + img
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    nodes = sorted({x for e in edges for x in e})
    return [(x, find(x)) for x in nodes]


# ------------------------------------------------------------- scene cuts

def ref_scene_cuts(n: int = 300, seed: int = 42,
                   thr_per_px: int = 100) -> "list[tuple]":
    """Spark-free twin of operators/video.scene_cuts over the
    scene-structured synth corpus: direct fpack slicing (no container
    dispatch) + plain numpy int64 squared-diff sums."""
    import numpy as np

    from osm2geojson_spark.synth.video import (
        fpack_frame,
        make_scene_video_row,
    )

    out = []
    for i in range(n):
        media_id, buf, w, h, nf, _fps, _fmt = make_scene_video_row(
            i * 2 + seed)
        npix = w * h * 3
        prev = fpack_frame(buf, 0).astype(np.int64)
        for k in range(1, nf):
            cur = fpack_frame(buf, k).astype(np.int64)
            d2 = int(((cur - prev) ** 2).sum())
            if d2 > thr_per_px * npix:
                out.append((media_id, k, d2))
            prev = cur
    return out


def ref_shot_signatures(n: int = 240, seed: int = 0,
                        thr_per_px: int = 100) -> "list[tuple]":
    """Spark-free twin of operators/video.shot_signatures over the
    shot-pool dup corpus: direct fpack slicing + the same integer cut
    threshold + phash64 of each shot's first frame."""
    import numpy as np

    from osm2geojson_spark.synth.images import phash64
    from osm2geojson_spark.synth.video import (
        fpack_frame,
        make_shotpool_video_row,
    )

    out = []
    for i in range(n):
        media_id, buf, w, h, nf, _fps, _fmt = make_shotpool_video_row(
            i + seed)
        npix = w * h * 3
        first = fpack_frame(buf, 0)
        prev = first.astype(np.int64)
        starts, hashes = [0], [phash64(first)]
        for k in range(1, nf):
            cur_u8 = fpack_frame(buf, k)
            cur = cur_u8.astype(np.int64)
            if int(((cur - prev) ** 2).sum()) > thr_per_px * npix:
                starts.append(k)
                hashes.append(phash64(cur_u8))
            prev = cur
        bounds = starts + [nf]
        for s, (st, hv) in enumerate(zip(starts, hashes)):
            out.append((media_id, s, st, bounds[s + 1] - st, hv))
    return out


# ----------------------------------------------------------- PCA (exact)

def jacobi_eigh(c) -> "tuple":
    """Deterministic symmetric eigensolver: classical cyclic Jacobi in
    pure numpy scalar ops — NO LAPACK, so the Spark driver and this
    Spark-free twin produce bit-identical eigenvectors regardless of
    BLAS threading. Returns (eigvals desc, eigvecs as columns), each
    eigenvector sign-fixed so its largest-|component| (first index on
    ties) is positive."""
    import numpy as np

    a = np.array(c, dtype=np.float64, copy=True)
    d = a.shape[0]
    v = np.eye(d)
    for _sweep in range(30):
        off = 0.0
        for p in range(d - 1):
            for q in range(p + 1, d):
                apq = a[p, q]
                off += apq * apq
                if apq == 0.0:
                    continue
                # negligible off-diagonal (Numerical Recipes test):
                # annihilate directly, keeps theta finite below
                ga = 100.0 * abs(apq)
                if (abs(a[p, p]) + ga == abs(a[p, p])
                        and abs(a[q, q]) + ga == abs(a[q, q])):
                    a[p, q] = a[q, p] = 0.0
                    continue
                theta = (a[q, q] - a[p, p]) / (2.0 * apq)
                if abs(theta) > 1.0e150:   # theta² would overflow;
                    t = 1.0 / (2.0 * theta)   # exact limit of the formula
                else:
                    t = (1.0 if theta >= 0.0 else -1.0) / (
                        abs(theta) + np.sqrt(theta * theta + 1.0))
                cs = 1.0 / np.sqrt(t * t + 1.0)
                sn = t * cs
                rp, rq = a[:, p].copy(), a[:, q].copy()
                a[:, p] = cs * rp - sn * rq
                a[:, q] = sn * rp + cs * rq
                rp, rq = a[p, :].copy(), a[q, :].copy()
                a[p, :] = cs * rp - sn * rq
                a[q, :] = sn * rp + cs * rq
                rp, rq = v[:, p].copy(), v[:, q].copy()
                v[:, p] = cs * rp - sn * rq
                v[:, q] = sn * rp + cs * rq
        if off == 0.0:
            break
    order = np.argsort(-np.diag(a), kind="stable")
    vals = np.diag(a)[order]
    vecs = v[:, order]
    for c_ in range(d):
        col = vecs[:, c_]
        if col[int(np.argmax(np.abs(col)))] < 0.0:
            vecs[:, c_] = -col
    return vals, vecs


def ref_pca_project(ids: "list[int]", vecs: "list[list[float]]",
                    k: int = 3, scale_bits: int = 20) -> "list[tuple]":
    """Spark-free twin of operators/similarity.pca_project: exact int64
    Gram/moments, deterministic Jacobi eigenvectors quantized to int64,
    exact integer centered projection."""
    import numpy as np

    v = np.array(vecs, dtype=np.float64)
    q = np.floor(v * (1 << scale_bits)).astype(np.int64)
    n = q.shape[0]
    s = q.sum(axis=0)
    g = q.T @ q
    craw = (n * g - np.outer(s, s)).astype(np.float64)
    _vals, evecs = jacobi_eigh(craw)
    vq = np.floor(evecs[:, :k] * (1 << scale_bits)).astype(np.int64)
    z = (n * q - s[None, :]) @ vq            # exact int64
    return [(int(i), *[int(x) for x in row]) for i, row in zip(ids, z)]


# ------------------------------------------------------------ polygonize

def ref_polygonize(vals) -> "list[tuple]":
    """Spark-free twin of spatial/polygonize.polygonize: row-major BFS
    flood fill over the whole raster (a genuinely different route from
    the tiled min-propagation + seam-CC path). Region id = global cell
    id (y·W + x) of the first cell reached in row-major order == the
    region's min cell id."""
    import numpy as np
    from collections import deque

    a = np.asarray(vals, np.int64)
    h, w = a.shape
    seen = np.zeros((h, w), dtype=bool)
    out = []
    for sy in range(h):
        for sx in range(w):
            if seen[sy, sx]:
                continue
            v = int(a[sy, sx])
            q = deque([(sx, sy)])
            seen[sy, sx] = True
            n = 0
            minx = maxx = sx
            miny = maxy = sy
            while q:
                x, y = q.popleft()
                n += 1
                minx, maxx = min(minx, x), max(maxx, x)
                miny, maxy = min(miny, y), max(maxy, y)
                for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                    nx, ny = x + dx, y + dy
                    if (0 <= nx < w and 0 <= ny < h and not seen[ny, nx]
                            and a[ny, nx] == v):
                        seen[ny, nx] = True
                        q.append((nx, ny))
            out.append((sy * w + sx, v, n, minx, miny, maxx, maxy))
    return out


def ref_audio_segments(n: int = 300, seed: int = 0, frame: int = 160,
                       thr_per_sample: int = 10_000) -> "list[tuple]":
    """Spark-free twin of operators/audio.activity_segments over the
    segmented speech-shaped corpus: direct per-format decode + plain
    python run-length scan over exact int64 frame energies."""
    import numpy as np

    from osm2geojson_spark.synth.audio import (
        decode_aiff,
        decode_wav,
        make_segmented_audio_row,
    )
    from osm2geojson_spark.synth.flac import decode_flac

    dec = {"wav": decode_wav, "aiff": decode_aiff, "flac": decode_flac}
    out = []
    for i in range(n):
        audio_id, buf, _r, _ns, fmt, _tr = make_segmented_audio_row(i + seed)
        pcm, _ = dec[fmt](buf)
        x = pcm.astype(np.int64)
        nf = len(x) // frame
        e = (x[:nf * frame].reshape(nf, frame) ** 2).sum(axis=1)
        act = e > thr_per_sample * frame
        seg = -1
        for k in range(nf):
            if act[k] and (k == 0 or not act[k - 1]):
                seg += 1
                out.append([audio_id, seg, k, 1, int(e[k])])
            elif act[k]:
                out[-1][3] += 1
                out[-1][4] += int(e[k])
    return [tuple(r) for r in out]


def ref_equalize_md5(n: int = 300, seed: int = 42) -> "list[tuple]":
    """Spark-free twin of operators/images.equalize_images over the
    lossless images corpus: decode → exact LUT remap → canonical PPM →
    md5 hex. Returns (image_id, md5, sum_after)."""
    import hashlib

    import numpy as np

    from osm2geojson_spark.operators.images import _decode, _equalize_px
    from osm2geojson_spark.synth.images import (
        FMTS_LOSSLESS,
        encode_ppm,
        make_image_row,
    )

    out = []
    for i in range(n):
        image_id, buf, _w, _h, fmt = make_image_row(
            i * 2 + seed, fmts=FMTS_LOSSLESS)[:5]
        px = _decode(buf, fmt)
        eq = _equalize_px(px)
        ppm = encode_ppm(eq)
        out.append((image_id, hashlib.md5(ppm).hexdigest(),
                    int(eq.astype(np.int64).sum())))
    return out


# -------------------------------------------------------------------- SCC

def scc_graph_edges(n_blocks: int = 16, b: int = 32,
                    tail: int = 20) -> "list[tuple[int, int]]":
    """The deterministic directed test graph shared by the catalog
    query (closed-form Spark ranges) and this Tarjan twin: n_blocks
    strongly-connected blocks (ring + internal expander, diameter
    O(log b)) chained forward first→first; every block with
    index % 5 == 2 adds a back edge merging it with its predecessor;
    a ``tail``-node forward chain (singleton SCCs) hangs off the last
    block."""
    n = n_blocks * b
    edges = []
    for i in range(n):
        bs = (i // b) * b
        edges.append((i, bs + ((i - bs + 1) % b)))          # ring
        edges.append((i, bs + ((2 * (i - bs) + 1) % b)))    # expander
    for blk in range(n_blocks):
        bs = blk * b
        if blk < n_blocks - 1:
            edges.append((bs, bs + b))                      # cross
        if blk % 5 == 2:
            edges.append((bs, bs - b))                      # back-merge
    edges.append(((n_blocks - 1) * b, n))                   # bridge→tail
    for j in range(tail - 1):
        edges.append((n + j, n + j + 1))                    # tail chain
    return sorted(set(edges))


def ref_scc(n_blocks: int = 16, b: int = 32,
            tail: int = 20) -> "list[tuple[int, int]]":
    """Iterative Tarjan over scc_graph_edges → (id, scc_id=min member),
    sorted by id — the sequential ground truth for the distributed
    coloring algorithm."""
    edges = scc_graph_edges(n_blocks, b, tail)
    adj: dict[int, list[int]] = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes.add(s)
        nodes.add(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]

    def strongconnect(v0: int) -> None:
        work = [(v0, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succs = adj.get(v, [])
            for j in range(pi, len(succs)):
                w = succs[j]
                if w not in index:
                    work.append((v, j + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])
    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    out = []
    for comp in sccs:
        m = min(comp)
        out.extend((x, m) for x in comp)
    return sorted(out)


# -------------------------------------------------------------------- ALS

def solve_linear(a, b):
    """Deterministic dense solve (Gaussian elimination with partial
    pivoting, pure numpy scalar ops — no LAPACK/BLAS, so executor
    kernels and this Spark-free twin produce bit-identical results
    regardless of thread heuristics). For the tiny d×d normal
    equations of ALS (d ≤ ~64)."""
    import numpy as np

    a = np.array(a, dtype=np.float64, copy=True)
    b = np.array(b, dtype=np.float64, copy=True)
    d = a.shape[0]
    for col in range(d):
        p = col + int(np.argmax(np.abs(a[col:, col])))
        if a[p, col] == 0.0:
            raise ValueError("singular normal equations")
        if p != col:
            a[[col, p]] = a[[p, col]]
            b[[col, p]] = b[[p, col]]
        inv = 1.0 / a[col, col]
        for r in range(col + 1, d):
            f = a[r, col] * inv
            if f != 0.0:
                a[r, col:] -= f * a[col, col:]
                b[r] -= f * b[col]
    x = np.zeros(d)
    for r in range(d - 1, -1, -1):
        x[r] = (b[r] - float(a[r, r + 1:] @ x[r + 1:])) / a[r, r]
    return x


def als_init_factor(idx: int, d: int = 8) -> "list[float]":
    """Deterministic item-factor init shared by both engines."""
    return [(((idx * 2654435761 + k * 40503) % 1000) / 1000.0) - 0.5
            for k in range(d)]


def _als_normal_solve(rows, d, lam):
    """rows = [(other_id, rating, factor_list)], sorted by other_id —
    the per-entity ALS update: solve (FᵀWF·? …) here the unweighted
    regularized normal equations (FᵀF + λI) x = Fᵀr with EXPLICIT
    per-entry sums (no BLAS matmul; bit-stable across processes)."""
    import numpy as np

    rows = sorted(rows, key=lambda t: t[0])
    f = np.array([t[2] for t in rows], dtype=np.float64)
    r = np.array([t[1] for t in rows], dtype=np.float64)
    a = np.empty((d, d))
    for i in range(d):
        for j in range(i, d):
            s = float(np.sum(f[:, i] * f[:, j]))
            a[i, j] = a[j, i] = s
        a[i, i] += lam
    b = np.array([float(np.sum(r * f[:, i])) for i in range(d)])
    return solve_linear(a, b)


def ref_als_factors(ratings: "list[tuple[int, int, int]]", d: int = 8,
                    lam: float = 0.1, iters: int = 3,
                    scale_bits: int = 20) -> "list[tuple]":
    """Spark-free ALS twin: same init, same alternation order (users
    first), same deterministic solves. ``ratings`` = (user, item, r).
    Returns (user, q1..qd) with q = floor(f · 2^scale_bits)."""
    import numpy as np

    users = sorted({u for u, _, _ in ratings})
    items = sorted({i for _, i, _ in ratings})
    fi = {i: np.array(als_init_factor(i, d)) for i in items}
    fu = {}
    by_user: dict[int, list] = {}
    by_item: dict[int, list] = {}
    for u, i, r in ratings:
        by_user.setdefault(u, []).append((i, r))
        by_item.setdefault(i, []).append((u, r))
    for _ in range(iters):
        fu = {u: _als_normal_solve(
            [(i, r, fi[i]) for i, r in by_user[u]], d, lam)
            for u in users}
        fi = {i: _als_normal_solve(
            [(u, r, fu[u]) for u, r in by_item[i]], d, lam)
            for i in items}
    # final user solve so the output is consistent with the final items
    fu = {u: _als_normal_solve(
        [(i, r, fi[i]) for i, r in by_user[u]], d, lam)
        for u in users}
    out = []
    for u in users:
        q = np.floor(np.asarray(fu[u]) * (1 << scale_bits)).astype(np.int64)
        out.append((u, *[int(x) for x in q]))
    return out


# ------------------------------------------------------------ bloom / cms

def spark_xxhash64_long_lit(v: int, i: int) -> int:
    """``F.xxhash64(long_col, F.lit(i))``: LongType → 8 LE bytes, then
    the IntegerType literal → 4 LE bytes (the committed pitfall)."""
    h1 = xxh64(struct.pack("<q", v), 42)
    return signed64(xxh64(struct.pack("<i", i), h1))


def _bloom_positions(key: int, k_hashes: int, m_bits: int,
                     seed: int) -> "list[int]":
    return [spark_xxhash64_long_lit(key, seed + j) % m_bits
            for j in range(k_hashes)]


def ref_bloom_prune(dim_keys: "list[int]", probe: "list[tuple]",
                    m_bits: int = 4096, k_hashes: int = 5,
                    seed: int = 7) -> "list[tuple]":
    """Spark-free twin of build_bloom + bloom_probe_expr: probe =
    [(row_id_cols..., key)]; returns rows + (bloom_hit, is_member).
    False positives are part of the expected output — they are a
    deterministic function of the hash family."""
    words = [0] * (m_bits // 64)
    for k in set(dim_keys):
        for p in _bloom_positions(k, k_hashes, m_bits, seed):
            words[p // 64] |= 1 << (p % 64)
    members = set(dim_keys)
    out = []
    for row in probe:
        key = row[-1]
        hit = all((words[p // 64] >> (p % 64)) & 1
                  for p in _bloom_positions(key, k_hashes, m_bits, seed))
        out.append((*row, 1 if hit else 0, 1 if key in members else 0))
    return out


def ref_cms_counters(keys: "list[int]", w: int = 256, d_rows: int = 4,
                     seed: int = 11) -> "list[tuple[int, int, int]]":
    """Spark-free twin of cms_counters over long keys."""
    from collections import Counter

    cnt: Counter = Counter()
    for k in keys:
        for j in range(d_rows):
            cnt[(j, spark_xxhash64_long_lit(k, seed + j) % w)] += 1
    return sorted((j, h, c) for (j, h), c in cnt.items())


def ref_cms_estimate(counters: "dict", key: int, w: int = 256,
                     d_rows: int = 4, seed: int = 11) -> int:
    return min(counters.get(
        (j, spark_xxhash64_long_lit(key, seed + j) % w), 0)
        for j in range(d_rows))


def ref_isotonic(n: int = 5000) -> "list[tuple]":
    """Sequential PAV ground truth over the closed-form trend+noise
    series y(x) = x//50 + (x·2654435761) % 17 − 8."""
    from osm2geojson_spark.operators.isotonic import pav_merge

    pts = [(x, x, x // 50 + (x * 2654435761) % 17 - 8, 1)
           for x in range(n)]
    out = []
    for st, en, s, c in pav_merge(pts):
        fp = (1_000_000 * s) // c if s >= 0 else -((-1_000_000 * s) // c)
        out.append((st, en, s, c, fp))
    return out


def setsim_corpus(n: int = 400) -> "list[tuple[int, str]]":
    """Sparse-vocab near-dup corpus shared by both engines: group
    g = i//4 has 4 variants whose token lists share the first 18
    entries of one arithmetic progression (longer variants extend it),
    so within-group Jaccard ∈ {0.75..0.92} and cross-group overlap is
    incidental."""
    out = []
    for i in range(n):
        g, v = divmod(i, 4)
        toks = [f"t{(g * 37 + j * 11) % 6000}" for j in range(18 + 2 * v)]
        out.append((i, " ".join(toks)))
    return out


def ref_setsim(docs: "list[tuple[int, str]]",
               tau_ppm: int = 350_000) -> "list[tuple]":
    """Brute-force token-set Jaccard ground truth for setsim_join:
    normalize, distinct tokens, ALL pairs with the length filter only
    (no prefix pruning — the independent route), exact integer ppm."""
    sets = {}
    for i, text in docs:
        toks = {t for t in normalize_text(text).split(" ") if t}
        if toks:
            sets[i] = toks
    ids = sorted(sets)
    out = []
    for a_i, a in enumerate(ids):
        sa = sets[a]
        for b in ids[a_i + 1:]:
            sb = sets[b]
            ma, mb = len(sa), len(sb)
            if mb * 1_000_000 < tau_ppm * ma \
                    or ma * 1_000_000 < tau_ppm * mb:
                continue
            inter = len(sa & sb)
            j = (1_000_000 * inter) // (ma + mb - inter)
            if j >= tau_ppm:
                out.append((a, b, inter, j))
    return sorted(out)


def ref_palette(n: int = 200, seed: int = 42, fmts=None,
                k: int = 8) -> "list[tuple]":
    """Twin of ``palette_quantize``: pure-python median cut with the
    IDENTICAL tie-break ladder (largest range → lowest box index →
    lowest channel; pixel order (chan, r, g, b); split at n div 2;
    palette sorted by (r, g, b, n)). The engine sorts with np.lexsort
    and splits numpy arrays — different machinery, same integers.
    Returns [(image_id, fmt, color_idx, r, g, b, n_px)]."""
    out = []
    for image_id, fmt, px in _image_corpus(n, seed, fmts):
        h, w = px.shape[0], px.shape[1]
        pixels = [(int(px[y, x, 0]), int(px[y, x, 1]), int(px[y, x, 2]))
                  for y in range(h) for x in range(w)]
        boxes = [pixels]
        while len(boxes) < k:
            best, bi, bc = 0, -1, 0
            for i, bx in enumerate(boxes):
                rngs = [max(p[c] for p in bx) - min(p[c] for p in bx)
                        for c in range(3)]
                m = max(rngs)
                if m > best:
                    best, bi, bc = m, i, rngs.index(m)
            if bi < 0:
                break
            srt = sorted(boxes[bi],
                         key=lambda p: (p[bc], p[0], p[1], p[2]))
            half = len(srt) // 2
            boxes[bi] = srt[:half]
            boxes.append(srt[half:])
        pal = sorted(
            (sum(p[0] for p in b) // len(b),
             sum(p[1] for p in b) // len(b),
             sum(p[2] for p in b) // len(b), len(b)) for b in boxes)
        out.extend((image_id, fmt, ci, r, g, b, npx)
                   for ci, (r, g, b, npx) in enumerate(pal))
    return out


def ref_motion_vectors(n: int = 150, seed: int = 42, block: int = 8,
                       search: int = 3) -> "list[tuple]":
    """Spark-free twin of operators/video.motion_vectors over the
    pure-translation motion corpus: direct fpack slicing (no
    container dispatch, no Arrow) around the same deterministic
    block_match_py kernel. Returns [(media_id, frame_idx, vx, vy,
    n_blocks, agree, sad_sum)]."""
    from collections import Counter

    from osm2geojson_spark.operators.video import block_match_py
    from osm2geojson_spark.synth.video import (
        fpack_frame,
        make_motion_video_row,
    )

    out = []
    for i in range(n):
        media_id, buf, _w, _h, nf, _fps, _fmt = make_motion_video_row(
            i * 2 + seed)
        prev = fpack_frame(buf, 0)
        for k in range(1, nf):
            cur = fpack_frame(buf, k)
            bm = block_match_py(prev, cur, block, search)
            votes = Counter((dy, dx) for _, _, dy, dx, _ in bm)
            (dy, dx), agree = min(votes.items(),
                                  key=lambda it: (-it[1], it[0]))
            out.append((media_id, k, dx, dy, len(bm), int(agree),
                        sum(b[4] for b in bm)))
            prev = cur
    return out


def ref_audio_dedup(n: int = 120, seed: int = 42,
                    min_shared: int = 5) -> "list[tuple]":
    """Spark-free twin of the audio_dedup catalog entry: rebuild each
    snippet clip's PCM directly from the pool (NO wav codec, no
    Arrow), fingerprint with the same shared kernel, count shared
    distinct hashes with python dicts. Returns
    [(id_a, id_b, n_shared)]."""
    import numpy as np

    from osm2geojson_spark.operators.audio import fingerprint_samples
    from osm2geojson_spark.synth.audio import (
        _SNIPPET_POOL,
        snippet_waveform,
    )

    fps = {}
    for i in range(n):
        s = i + seed
        g, v = s // 3, s % 3
        idxs = [(17 * g + 5 * j) % _SNIPPET_POOL for j in range(3 + v)]
        samples = np.concatenate([snippet_waveform(k) for k in idxs])
        fps[f"snp-{s:012d}"] = {h for _t, h in
                                fingerprint_samples(samples)}
    ids = sorted(fps)
    out = []
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            ia, ib = ids[a], ids[b]
            shared = len(fps[ia] & fps[ib])
            if shared >= min_shared:
                out.append((ia, ib, shared))
    return out


def ref_contact_sheet(n: int = 200, seed: int = 42, fmts=None,
                      cols: int = 8, rows: int = 8,
                      cell: int = 16) -> "list[tuple]":
    """Twin of the contact_sheet catalog entry: thumbnails via the
    row-by-row python accumulator (_thumb_ref), pages assembled with
    plain list math (no numpy canvas), same ppm bytes → same md5.
    Returns [(page, n_images, w_px, h_px, md5)]."""
    import hashlib

    import numpy as np

    from osm2geojson_spark.synth.images import encode_ppm

    per = cols * rows
    items = sorted(
        (image_id, _thumb_ref(px, cell, cell))
        for image_id, _fmt, px in _image_corpus(n, seed, fmts))
    out = []
    for p0 in range(0, len(items), per):
        chunk = items[p0:p0 + per]
        canvas = np.zeros((rows * cell, cols * cell, 3), dtype=np.uint8)
        for s, (_iid, vec) in enumerate(chunk):
            py, px_ = (s // cols) * cell, (s % cols) * cell
            canvas[py:py + cell, px_:px_ + cell] = np.asarray(
                vec, np.uint8).reshape(cell, cell, 3)
        out.append((p0 // per, len(chunk), cols * cell, rows * cell,
                    hashlib.md5(encode_ppm(canvas)).hexdigest()))
    return out


# ------------------------------------------------------- graph (round 5)

def hash_graph(n_nodes: int, n_edges: int) -> "list[tuple]":
    """Deterministic irregular directed graph: edge i = (i·2654435761
    mod N, (i·40503 + 7) mod N). Closed-form id arithmetic (no RNG, no
    hashing library) so Spark generates the identical list with
    `spark.range` column math — the two engines never exchange data."""
    return [((i * 2654435761) % n_nodes, (i * 40503 + 7) % n_nodes)
            for i in range(n_edges)]


def ref_hits(edges: "list[tuple]", n_iters: int = 8,
             scale: int = 10**8) -> "list[tuple]":
    """(node_id, hub, auth) — twin of operators/graph.hits: identical
    integer L1 rescale (raw·scale // total) each half-step, Python big
    ints standing in for the engine's DECIMAL(38,0) widening."""
    e = sorted({(int(u), int(v)) for u, v in edges if int(u) != int(v)})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    hub = {v: scale for v in nodes}
    auth = {v: scale for v in nodes}

    def rescale(raw: dict) -> dict:
        total = sum(raw.values())
        if total <= 0:
            return {v: 0 for v in nodes}
        return {v: (raw[v] * scale) // total for v in nodes}

    for _ in range(n_iters):
        raw_a = {v: 0 for v in nodes}
        for u, v in e:
            raw_a[v] += hub[u]
        auth = rescale(raw_a)
        raw_h = {v: 0 for v in nodes}
        for u, v in e:
            raw_h[u] += auth[v]
        hub = rescale(raw_h)
    return [(v, hub[v], auth[v]) for v in nodes]


def _canon_undirected(edges: "list[tuple]") -> "list[tuple]":
    return sorted({(min(int(u), int(v)), max(int(u), int(v)))
                   for u, v in edges if int(u) != int(v)})


def ref_label_propagation(edges: "list[tuple]",
                          n_iters: int = 4) -> "list[tuple]":
    """(node, label) — twin of operators/graph.label_propagation:
    synchronous rounds, most-frequent neighbor label, ties to the
    SMALLEST label."""
    from collections import defaultdict

    canon = _canon_undirected(edges)
    adj = defaultdict(list)
    for a, b in canon:
        adj[a].append(b)
        adj[b].append(a)
    nodes = sorted(adj)
    labels = {v: v for v in nodes}
    for _ in range(n_iters):
        new = {}
        for v in nodes:
            cnt = defaultdict(int)
            for w in adj[v]:
                cnt[labels[w]] += 1
            # max count, then smallest label == max of (cnt, -label)
            new[v] = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        labels = new
    return sorted(labels.items())


def ref_modularity(edges: "list[tuple]",
                   labels: "list[tuple]") -> "list[tuple]":
    """(label, n_nodes, m_in, d_tot, q_num, q_den) — twin of
    operators/graph.modularity (exact integer rational form)."""
    from collections import defaultdict

    canon = _canon_undirected(edges)
    m = len(canon)
    lab = {int(v): int(c) for v, c in labels}
    deg = defaultdict(int)
    m_in = defaultdict(int)
    for a, b in canon:
        deg[a] += 1
        deg[b] += 1
        if lab[a] == lab[b]:
            m_in[lab[a]] += 1
    n_nodes = defaultdict(int)
    d_tot = defaultdict(int)
    for v, c in lab.items():
        n_nodes[c] += 1
        d_tot[c] += deg.get(v, 0)
    return sorted(
        (c, n_nodes[c], m_in[c], d_tot[c],
         4 * m * m_in[c] - d_tot[c] * d_tot[c], 4 * m * m)
        for c in n_nodes)


def ref_stress(edges: "list[tuple]", sources: "list[int]"
               ) -> "list[tuple]":
    """Spark-free stress centrality twin (operators/graph.
    stress_centrality): per-source BFS σ counts + DAG path tally
    P(v) = Σ_succ (1 + P(w)), stress(v) = Σ_s σ_sv·P_s(v). Sorted
    (node, stress), zero rows dropped (matching the engine's
    join-only materialization)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    for a, b in {(int(a), int(b)) for a, b in edges if a != b}:
        adj[a].append(b)
    stress: dict = defaultdict(int)
    for s in sorted(set(int(x) for x in sources)):
        dist = {s: 0}
        sigma = defaultdict(int)
        sigma[s] = 1
        q = deque([s])
        order = []
        while q:
            u = q.popleft()
            order.append(u)
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
                if dist[w] == dist[u] + 1:
                    sigma[w] += sigma[u]
        p: dict = defaultdict(int)
        for u in reversed(order):
            for w in adj[u]:
                if dist.get(w) == dist[u] + 1:
                    p[u] += 1 + p[w]
        for v in dist:
            if v != s and p[v] > 0:
                stress[v] += sigma[v] * p[v]
    return sorted((v, c) for v, c in stress.items() if c > 0)


def ref_traj_lcss(n_objs: int = 60, m: int = 24, group_mod: int = 6,
                  eps_sq: int = 0) -> "list[tuple]":
    """Twin of the ``trajectory_lcss`` catalog query: same int-lattice
    synth as queries._haus_points, but LCSS/EDR run as MEMOIZED
    RECURSION over prefix lengths from the (end,end) corner (the
    engine rolls rows forward — different evaluation order, same
    integers). Returns sorted
    [(id_a, id_b, lcss_len, lcss_ppm, edr_dist)]."""
    import sys

    lon_mul, lat_mul = 2654435761, 2246822519

    def pts(obj):
        return [(((obj * 31 + i * 17 + 3) * lon_mul) % 1_000_000,
                 ((obj * 29 + i * 13 + 11) * lat_mul) % 1_000_000)
                for i in range(m)]

    def solve(pa, pb):
        match = [[(ax - bx) ** 2 + (ay - by) ** 2 <= eps_sq
                  for bx, by in pb] for ax, ay in pa]
        memo_l: "dict[tuple, int]" = {}
        memo_e: "dict[tuple, int]" = {}

        def lcss(i, j):
            if i == 0 or j == 0:
                return 0
            if (i, j) in memo_l:
                return memo_l[(i, j)]
            if match[i - 1][j - 1]:
                v = lcss(i - 1, j - 1) + 1
            else:
                v = max(lcss(i - 1, j), lcss(i, j - 1))
            memo_l[(i, j)] = v
            return v

        def edr(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            if (i, j) in memo_e:
                return memo_e[(i, j)]
            v = min(edr(i - 1, j - 1)
                    + (0 if match[i - 1][j - 1] else 1),
                    edr(i - 1, j) + 1, edr(i, j - 1) + 1)
            memo_e[(i, j)] = v
            return v

        old = sys.getrecursionlimit()
        sys.setrecursionlimit(max(old, 4 * (len(pa) + len(pb)) + 100))
        try:
            return lcss(len(pa), len(pb)), edr(len(pa), len(pb))
        finally:
            sys.setrecursionlimit(old)

    out = []
    for a in range(n_objs):
        for b in range(a + 1, n_objs):
            if a % group_mod != b % group_mod:
                continue
            pa, pb = pts(a), pts(b)
            ll, ed = solve(pa, pb)
            out.append((a, b, ll, ll * 1_000_000 // min(len(pa), len(pb)),
                        ed))
    return sorted(out)


def ref_geo_mosaic(n: int = 300, seed: int = 42, fmts=None,
                   world_px: int = 1024, tile: int = 128,
                   thumb: int = 16) -> "list[tuple]":
    """Twin of the ``geo_mosaic`` catalog query: same synth corpus and
    IEEE placement expression, but thumbnails via the row-by-row
    python accumulator (_thumb_ref) and tiles accumulated in plain
    dict-of-python-int pixel maps (no numpy canvas math) — different
    summation route, identical bytes. Returns sorted
    [(tx, ty, n_contrib, w_px, h_px, md5)]."""
    import hashlib
    import math

    import numpy as np

    from osm2geojson_spark.synth.images import (
        DECODERS,
        FMTS_TIFF,
        encode_ppm,
        make_image_row,
    )

    fmts = fmts or FMTS_TIFF
    w, t, s = int(world_px), int(tile), int(thumb)
    tiles: "dict[tuple, dict]" = {}
    contribs: "dict[tuple, int]" = {}
    for i in range(n):
        (_iid, buf, _w, _h, fmt, _cap, _ph, lon,
         lat) = make_image_row(i * 2 + seed, fmts)
        vec = _thumb_ref(DECODERS[fmt](buf), s, s)
        px0 = min(max(math.floor(((lon + 180.0) / 360.0) * float(w)),
                      0), w - s)
        py0 = min(max(math.floor(((85.0 - lat) / 170.0) * float(w)),
                      0), w - s)
        for ty in range(py0 // t, (py0 + s - 1) // t + 1):
            for tx in range(px0 // t, (px0 + s - 1) // t + 1):
                key = (tx, ty)
                cell = tiles.setdefault(key, {})
                contribs[key] = contribs.get(key, 0) + 1
                ox, oy = tx * t, ty * t
                x0, x1 = max(px0, ox), min(px0 + s, ox + t)
                y0, y1 = max(py0, oy), min(py0 + s, oy + t)
                for y in range(y0, y1):
                    for x in range(x0, x1):
                        base = ((y - py0) * s + (x - px0)) * 3
                        sm, c0 = cell.get((x, y), ([0, 0, 0], 0))
                        sm = [sm[k] + vec[base + k] for k in range(3)]
                        cell[(x, y)] = (sm, c0 + 1)
    out = []
    for (tx, ty), cell in tiles.items():
        canvas = np.zeros((t, t, 3), dtype=np.uint8)
        ox, oy = tx * t, ty * t
        for (x, y), (sm, c0) in cell.items():
            for k in range(3):
                canvas[y - oy, x - ox, k] = sm[k] // c0
        out.append((tx, ty, contribs[(tx, ty)], t, t,
                    hashlib.md5(encode_ppm(canvas)).hexdigest()))
    return sorted(out, key=lambda r: (r[1], r[0]))


def ref_mosaic_pyramid(n: int = 300, seed: int = 42, fmts=None,
                       world_px: int = 1024, tile: int = 128,
                       thumb: int = 16, levels: int = 3) -> "list[tuple]":
    """Twin of the ``mosaic_pyramid`` catalog query: the WHOLE world
    canvas is materialized once (sum/count numpy arrays — a route the
    tile-sharded engine never takes), mean-blended, then nested 2×2
    floor-means build each level and tiles slice out of the level
    canvas; a tile is emitted iff one of its base descendants was
    touched. Returns sorted [(level, tx, ty, w_px, h_px, md5)]."""
    import hashlib
    import math

    import numpy as np

    from osm2geojson_spark.synth.images import (
        DECODERS,
        FMTS_TIFF,
        encode_ppm,
        make_image_row,
    )

    fmts = fmts or FMTS_TIFF
    w, t, s = int(world_px), int(tile), int(thumb)
    acc = np.zeros((w, w, 3), dtype=np.int64)
    cnt = np.zeros((w, w, 1), dtype=np.int64)
    touched: "set[tuple]" = set()
    for i in range(n):
        (_iid, buf, _w, _h, fmt, _cap, _ph, lon,
         lat) = make_image_row(i * 2 + seed, fmts)
        vec = _thumb_ref(DECODERS[fmt](buf), s, s)
        px0 = min(max(math.floor(((lon + 180.0) / 360.0) * float(w)),
                      0), w - s)
        py0 = min(max(math.floor(((85.0 - lat) / 170.0) * float(w)),
                      0), w - s)
        block = np.asarray(vec, np.int64).reshape(s, s, 3)
        acc[py0:py0 + s, px0:px0 + s] += block
        cnt[py0:py0 + s, px0:px0 + s] += 1
        for ty in range(py0 // t, (py0 + s - 1) // t + 1):
            for tx in range(px0 // t, (px0 + s - 1) // t + 1):
                touched.add((tx, ty))
    world = np.where(cnt > 0, acc // np.maximum(cnt, 1), 0)
    out = []
    level_tiles = touched
    for lvl in range(int(levels)):
        for tx, ty in sorted(level_tiles):
            sl = world[ty * t:(ty + 1) * t, tx * t:(tx + 1) * t] \
                .astype(np.uint8)
            out.append((lvl, tx, ty, t, t,
                        hashlib.md5(encode_ppm(sl)).hexdigest()))
        world = (world[0::2, 0::2] + world[0::2, 1::2]
                 + world[1::2, 0::2] + world[1::2, 1::2]) // 4
        level_tiles = {(tx // 2, ty // 2) for tx, ty in level_tiles}
    return sorted(out)


def ref_randomization_test(n: int = 900, k: int = 199) -> "list[tuple]":
    """Twin of the ``randomization_test`` catalog query: identical
    closed-form series (id arithmetic — Spark builds the same rows
    with spark.range column math), assignments replayed through the
    pure-Python XXH64 (spark_xxhash64_long_lit — the bloom parity),
    all-int cross-multiplied compares. Returns the single row
    [(n, n_a, n_b, d0, k_total, k_valid, k_ge, p)]."""
    rows = []
    for i in range(n):
        g = 1 if ((i * 7) % 10) < 4 else 2
        v = ((i * 2654435761) % 1000) + ((i % 13) * 3) + (150 if g == 1 else 0)
        rows.append((g, v, i))
    n_tot = len(rows)
    n_a = sum(1 for g, _v, _i in rows if g == 1)
    n_b = n_tot - n_a
    s_a = sum(v for g, v, _i in rows if g == 1)
    s_b = sum(v for g, v, _i in rows if g == 2)
    d0 = n_b * s_a - n_a * s_b
    k_valid = k_ge = 0
    for rep in range(1, k + 1):
        nak = sak = sbk = 0
        for _g, v, rid in rows:
            if spark_xxhash64_long_lit(rid, rep) % n_tot < n_a:
                nak += 1
                sak += v
            else:
                sbk += v
        if nak == 0 or nak == n_tot:
            continue
        k_valid += 1
        if (abs((n_tot - nak) * sak - nak * sbk) * (n_a * n_b)
                >= abs(d0) * (nak * (n_tot - nak))):
            k_ge += 1
    p = float(k_ge + 1) / float(k_valid + 1)
    return [(n_tot, n_a, n_b, d0, k, k_valid, k_ge, p)]


def ref_dag_layers(edges: "list[tuple]") -> "list[tuple]":
    """Twin of operators/graph.dag_layers: python Kahn rounds (layer =
    peel round = longest path from a source). Returns sorted
    [(node, layer)]."""
    e = sorted({(int(u), int(v)) for u, v in edges if int(u) != int(v)})
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    layer = {}
    remaining = set(nodes)
    es = set(e)
    r = 0
    while remaining:
        with_pred = {v for _u, v in es}
        frontier = {n for n in remaining if n not in with_pred}
        if not frontier:
            raise ValueError("cycle")
        for n in frontier:
            layer[n] = r
        remaining -= frontier
        es = {(u, v) for u, v in es if u not in frontier}
        r += 1
    return sorted(layer.items())
