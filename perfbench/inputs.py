"""Seeded inputs for the three workloads, cached by (workload, seed, size).

Every generator is a pure function of its seed and size, and returns the
counts that follow from them (the "expected" dict), so that the output
checks compare the program against numbers it never computed itself.
The program only ever sees the files written here.

Planted bad inputs come in fixed shares, chosen by index, so that the
quarantine and problem paths are exercised and their counts are exact:

- ``osm_etl``: one node in 100 has no coordinates (quarantined), one way
  in 50 references a node that does not exist (a dangling ref), and one
  multipolygon relation in 10 carries a relation-typed member (dropped
  by the join, as in the reference).
- ``image_tiles``: one image in 10 has corrupt bytes (quarantined).
"""

from __future__ import annotations

import bz2
import json
import os
import random
import shutil
import time

# OSM: shares of planted bad inputs (by index, so counts are exact)
COORDLESS_EVERY = 100
DANGLING_EVERY = 50
RELMEMBER_EVERY = 10
# images: one row in CORRUPT_EVERY gets garbage bytes
CORRUPT_EVERY = 10
CORRUPT_BYTES = b"\x00perfbench: corrupt payload\x00"

_AMENITIES = ("cafe", "restaurant", "pharmacy", "school", "bank", "fuel")
# XML-escaped names: the node path unescapes these (P3)
_ESCAPED_NAMES = ("A &amp; B Store", "&lt;Corner&gt; Deli", "&quot;Q&quot; Bar",
                  "It&apos;s Open", "Café &amp; Co")


def cached(root: str, workload: str, seed: int, size: int, build) -> tuple[str, dict, float]:
    """Return (dir, meta, synth_s). ``build(dir) -> dict`` runs only when
    no complete entry exists; ``synth_s`` is 0.0 on a cache hit."""
    d = os.path.join(root, f"{workload}-seed{seed}-size{size}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f), 0.0
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d)
    t0 = time.perf_counter()
    meta = build(d)
    synth_s = time.perf_counter() - t0
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.rename(meta_path + ".tmp", meta_path)
    return d, meta, synth_s


# ----------------------------------------------------------------- osm_etl
def _node(nid: int, lon: float, lat: float, tags=()) -> str:
    head = (f' <node id="{nid}" version="2" timestamp="2020-01-01T00:00:00Z" '
            f'lat="{lat:.7f}" lon="{lon:.7f}"')
    if not tags:
        return head + "/>"
    body = "".join(f'\n  <tag k="{k}" v="{v}"/>' for k, v in tags)
    return head + ">" + body + "\n </node>"


def write_osm(path: str, seed: int, n_ways: int) -> dict:
    """Planet-style ``.osm.bz2``: nodes, then ways, then relations.

    Per ``n_ways`` it holds n_ways street/building ways (3-6 fresh nodes
    each), n_ways POI nodes and n_ways/20 relations (multipolygons with
    split outer rings and holes, plus unclosed route relations that the
    post-processor drops)."""
    rng = random.Random(seed)
    nodes: list[str] = []
    ways: list[str] = []
    rels: list[str] = []
    next_node = [1]

    def fresh_node(lon, lat, tags=()):
        nid = next_node[0]
        next_node[0] += 1
        nodes.append(_node(nid, lon, lat, tags))
        return nid

    exp = {"pois": 0, "ways": 0, "relations": 0, "quarantine": 0,
           "dangling_refs": 0, "relation_members": 0}

    def way_xml(wid, refs, tags):
        nds = "".join(f'\n  <nd ref="{r}"/>' for r in refs)
        tg = "".join(f'\n  <tag k="{k}" v="{v}"/>' for k, v in tags)
        ways.append(f' <way id="{wid}" version="1">{nds}{tg}\n </way>')

    wid = 0
    for w in range(n_ways):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        closed = w % 10 < 3
        k = rng.randint(3, 6)
        refs = [fresh_node(cx + rng.uniform(-0.01, 0.01),
                           cy + rng.uniform(-0.01, 0.01)) for _ in range(k)]
        if closed:
            refs.append(refs[0])
        if w % DANGLING_EVERY == 7:
            refs.insert(1, 10**12 + w)
            exp["dangling_refs"] += 1
        named = w % 5 != 4
        if named:
            tags = [("name", f"Way {w}"),
                    ("building", "yes") if closed else ("highway", "residential")]
            exp["ways"] += 1
        else:
            tags = [("surface", "asphalt")]
        wid += 1
        way_xml(wid, refs, tags)

    for p in range(n_ways):
        lon, lat = rng.uniform(-179, 179), rng.uniform(-80, 80)
        amenity = ("amenity", _AMENITIES[p % len(_AMENITIES)])
        if p % 4 == 3:
            fresh_node(lon, lat, [amenity])  # no name: dropped (P8)
            continue
        name = _ESCAPED_NAMES[p % len(_ESCAPED_NAMES)] if p % 7 == 0 else f"Poi {p}"
        fresh_node(lon, lat, [("name", name), amenity])
        exp["pois"] += 1

    def ring(cx, cy, d, ccw=True):
        pts = [(cx - d, cy - d), (cx + d, cy - d), (cx + d, cy + d), (cx - d, cy + d)]
        if not ccw:
            pts.reverse()
        return [fresh_node(x, y) for x, y in pts]

    n_rels = max(1, n_ways // 20)
    for r in range(n_rels):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-70, 70)
        members = []
        outer = ring(cx, cy, 0.02, ccw=r % 2 == 0)
        if r % 3 == 1:  # outer split into two halves the stitcher chains
            wid += 1
            way_xml(wid, outer[:3], [])
            members.append(("way", wid, "outer"))
            wid += 1
            way_xml(wid, outer[2:] + outer[:1], [])
            members.append(("way", wid, "outer"))
        else:
            wid += 1
            way_xml(wid, outer + outer[:1], [])
            members.append(("way", wid, "outer"))
        if r % 4 == 2:
            inner = ring(cx, cy, 0.005)
            wid += 1
            way_xml(wid, inner + inner[:1], [])
            members.append(("way", wid, "inner"))
        if r % 5 == 0:
            members.append(("node", fresh_node(cx, cy), "label"))
        is_route = r % 8 == 5
        if not is_route and r % RELMEMBER_EVERY == 3:
            members.append(("relation", r + 1_000_000, "subarea"))
            exp["relation_members"] += 1
        if is_route:  # no closed ring, no category: post-processor drops it
            tags = [("type", "route"), ("name", f"Route {r}")]
        else:
            tags = [("type", "multipolygon"), ("name", f"Park {r}"),
                    ("leisure", "park")]
            exp["relations"] += 1
        mem = "".join(f'\n  <member type="{t}" ref="{ref}" role="{role}"/>'
                      for t, ref, role in members)
        tg = "".join(f'\n  <tag k="{k}" v="{v}"/>' for k, v in tags)
        rels.append(f' <relation id="{r + 1}" version="1">{mem}{tg}\n </relation>')

    # coordinate-less nodes (deleted-node shape), some still tagged
    n_coordless = max(1, len(nodes) // COORDLESS_EVERY)
    for j in range(n_coordless):
        nid = next_node[0]
        next_node[0] += 1
        tag = f'>\n  <tag k="name" v="Ghost {j}"/>\n </node>' if j % 2 else "/>"
        # interleave among the plain nodes so no split holds only these
        nodes.insert((j * COORDLESS_EVERY) % len(nodes),
                     f' <node id="{nid}" version="3" visible="false"{tag}')
    exp["quarantine"] = n_coordless

    text = "\n".join(['<?xml version="1.0" encoding="UTF-8"?>',
                      '<osm version="0.6" generator="perfbench">',
                      *nodes, *ways, *rels, "</osm>", ""])
    raw = text.encode("utf-8")
    with open(path, "wb") as f:
        f.write(bz2.compress(raw, 9))
    exp["entities"] = len(nodes) + len(ways) + len(rels)
    exp["xml_lines"] = text.count("\n")
    exp["xml_bytes"] = len(raw)
    exp["input_bytes"] = os.path.getsize(path)
    return exp


def osm_inputs(root: str, seed: int, size: int):
    def build(d):
        return write_osm(os.path.join(d, "planet.osm.bz2"), seed, size)

    d, meta, synth_s = cached(root, "osm_etl", seed, size, build)
    return os.path.join(d, "planet.osm.bz2"), meta, synth_s


# ------------------------------------------------------------- image_tiles
def _region_box(lon: float, lat: float) -> int | None:
    """The region box (queries.region_boxes, r_regionkey 0..4) strictly
    containing the point, re-derived from its documented corners."""
    for rk in range(5):
        x0, x1 = rk * 60 - 170.0000005, rk * 60 - 140.0000005
        y0, y1 = rk * 25 - 60.0000005, rk * 25 - 40.0000005
        if x0 < lon < x1 and y0 < lat < y1:
            return rk
    return None


def write_images(path: str, seed: int, n: int) -> dict:
    """Image+caption parquet over all real codecs (``FMTS_ALL``), one row
    in CORRUPT_EVERY with garbage bytes.

    Row i uses image seed ``2 * (seed * m + i)``, m the smallest multiple
    of 294 not below n: seeds never share rows, and since make_image_row
    takes the size from the image seed mod 98 and the format from it mod
    12, row i has the same size and format under every seed. Only pixels,
    captions and coordinates change, so decode cost does not vary with
    the seed."""
    import pandas as pd

    from osm2geojson_spark.synth.images import FMTS_ALL, make_image_row

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lon", "lat"]
    m = -(-n // 294) * 294
    rows, n_bad, hits = [], 0, 0
    for i in range(n):
        row = list(make_image_row(2 * (seed * m + i), FMTS_ALL))
        if i % CORRUPT_EVERY == CORRUPT_EVERY - 1:
            row[1] = CORRUPT_BYTES
            n_bad += 1
        elif _region_box(row[7], row[8]) is not None:
            hits += 1
        rows.append(row)
    pd.DataFrame(rows, columns=cols).to_parquet(path, index=False)
    return {"images": n, "quarantine": n_bad, "ok": n - n_bad, "hits": hits,
            "input_bytes": os.path.getsize(path)}


def image_inputs(root: str, seed: int, size: int):
    def build(d):
        return write_images(os.path.join(d, "images.parquet"), seed, size)

    d, meta, synth_s = cached(root, "image_tiles", seed, size, build)
    return os.path.join(d, "images.parquet"), meta, synth_s


# ------------------------------------------------------------- point_tiles
N_ZONES = 300


def zone_rows() -> list[tuple]:
    """``pyref.ref_zones`` hexagons as (poly_id, closed ring) rows."""
    from osm2geojson_spark.pyref import ref_zones

    return [(name, [(x, y) for x, y in ring + ring[:1]])
            for name, ring in ref_zones(n_extra=N_ZONES - 3)]


def expected_point_hits(lon, lat) -> int:
    """Point-zone pairs under even-odd ray casting (``pyref._pip_many_np``,
    the reference twin of the program's residual), bbox-pruned."""
    import numpy as np

    from osm2geojson_spark.pyref import _pip_many_np

    order = np.argsort(lon, kind="stable")
    slon, slat = lon[order], lat[order]
    hits = 0
    for _, ring in zone_rows():
        r = np.asarray(ring, dtype=np.float64)
        lo, hi = np.searchsorted(slon, [r[:, 0].min(), r[:, 0].max()], side="left")
        px, py = slon[lo:hi], slat[lo:hi]
        m = (py >= r[:, 1].min()) & (py <= r[:, 1].max())
        hits += int(np.count_nonzero(_pip_many_np(px[m], py[m], r)))
    return hits


def point_inputs(root: str, seed: int, size: int, spark):
    """``size`` ways' worth of ``synth.osm.scale_tables`` nodes
    (10% in three hot spots) as (pt_id, lon, lat) parquet."""
    def build(d):
        import pyarrow.parquet as pq

        from osm2geojson_spark.synth.osm import scale_tables

        path = os.path.join(d, "points.parquet")
        nodes = scale_tables(spark, n_ways=size, seed=seed)["nodes"]
        nodes.selectExpr("id as pt_id", "lon", "lat").write.parquet(path)
        t = pq.read_table(path, columns=["lon", "lat"])
        lon = t.column("lon").to_numpy()
        lat = t.column("lat").to_numpy()
        return {"points": len(lon), "hits": expected_point_hits(lon, lat),
                "input_bytes": sum(os.path.getsize(os.path.join(path, f))
                                   for f in os.listdir(path))}

    d, meta, synth_s = cached(root, "point_tiles", seed, size, build)
    return os.path.join(d, "points.parquet"), meta, synth_s
