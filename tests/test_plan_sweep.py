"""Source-level scale-shape audit — the sweep the round-4 verdict asked
for after the ``contact_sheet`` unpartitioned window slipped through
review: every ``Window.orderBy`` WITHOUT partition keys and every
``.collect()`` in production code must be on an explicit, commented
whitelist. A new site fails this test until someone consciously argues
its bound here (the CLAUDE.md rule: an unpartitioned window is ONE task
— fine only over provably-small inputs like bucket-size tables, a
straggler over row data; a ``.collect()`` is fine only when its result
is O(metadata)).

Static by design (no SparkSession): it catches the anti-pattern at
review time, not after a 9.6M-row bench regression.
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "osm2geojson_spark")

# Unpartitioned-window sites, each bounded by construction:
#  - spatial/strpack.py: prefix_sums, the one prefix-sum substrate. Its
#    window runs over the BUCKET-TOTAL table when the caller passes a
#    bucket (O(#buckets) rows: global_rank, pack_shards), and otherwise
#    over a frame the caller bounds as histogram-sized: the stats walks
#    over DISTINCT-VALUE histograms (exact_quantiles' bucket histogram
#    is SELF-ENFORCED <= max_buckets by its coarsening ladder) and
#    effective_diameter's pooled DISTANCE histogram.
#  - operators/stats.py: runs_test's sequence lag, which is not a
#    prefix sum (documented: ONE global sequence by the test's nature;
#    per-key callers partition upstream, the catalog entry feeds a
#    bounded slice).
WINDOW_WHITELIST = {
    "spatial/strpack.py": 1,
    "operators/stats.py": 1,
}

# .collect() sites, each returning O(metadata)/O(1) results (broadcast
# contracts with count guards, per-round scalars in iterative ops,
# compressed PAV blocks, byte-budgeted split fragments, id bounds):
COLLECT_WHITELIST = {
    "operators/bloom.py": 1,      # sketch params row
    "operators/graph.py": 1,      # stress max-dist scalar (O(1))
    "operators/bpe.py": 1,        # per-round merge winner (O(1))
    "operators/images.py": 1,     # min/max image_id → rank-bucket LCP
    "operators/isotonic.py": 1,   # compressed PAV blocks (bounded)
    "operators/similarity.py": 5,  # centroid/codebook rows (k·d small)
    "operators/stats.py": 2,      # otsu argmax curve + quantile stat row
    "plans/iceberg_layout.py": 1,  # snapshot/manifest metadata
    "queries.py": 3,              # catalog-entry scalars (sf-bounded)
    "sources/osm_xml.py": 1,      # byte-budgeted split fragments
    "spatial/dissolve.py": 1,     # strip boundary table (O(#strips))
    "spatial/pip.py": 2,          # guarded broadcast polygon contract
    "spatial/route.py": 6,        # per-round frontier scalars/block ids
    "spatial/viewshed.py": 1,     # observer row (O(1))
    "spatial/zonal.py": 1,        # guarded broadcast zone contract
}

_WIN = re.compile(r"Window\s*\.\s*orderBy\s*\(")
_PARTED = re.compile(r"Window\s*\.\s*partitionBy\s*\(")
_COLLECT = re.compile(r"\.\s*collect\s*\(\s*\)")
# The streaming substrate: every streaming twin reads its file drops
# through events.file_stream and launches its bounded run through
# events.run_available_now, so each call appears exactly once.
STREAM_SUBSTRATE = {"streaming/events.py": 1}
_READ_STREAM = re.compile(r"\.\s*readStream\b")
_AVAILABLE_NOW = re.compile(r"trigger\s*\(\s*availableNow\s*=\s*True\s*\)")
# The routing substrate: every routing entry point (and spatial/dt.py)
# merges labels through route._merge and checks weights in the edge
# prologue route._edges, so each text appears exactly once. Matched on
# the raw source, strings included.
ROUTE_SUBSTRATE = (
    ('F.coalesce("dist", "nd")', "", "_merge"),
    ("requires non-negative weights", "spatial/", "_edges"),
)


def _py_files():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                yield os.path.relpath(path, PKG).replace(os.sep, "/"), path


def _strip_comments_and_docstrings(src: str) -> str:
    import io
    import tokenize

    out = []
    prev_end = (1, 0)
    try:
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type in (tokenize.COMMENT,):
                continue
            if tok.type == tokenize.STRING:
                # docstrings and prose strings: drop the CONTENT but
                # keep position flow (a code string like an F.expr
                # pattern can't contain the literal call anyway —
                # we only sweep for call-syntax tokens)
                continue
            out.append(tok.string)
            prev_end = tok.end
    except tokenize.TokenizeError:  # pragma: no cover
        return src
    _ = prev_end
    return " ".join(out)


def _counts(pattern: re.Pattern) -> dict[str, int]:
    got: dict[str, int] = {}
    for rel, path in _py_files():
        with open(path, encoding="utf-8") as fh:
            code = _strip_comments_and_docstrings(fh.read())
        n = len(pattern.findall(code))
        if n:
            got[rel] = n
    return got


def test_no_new_unpartitioned_windows():
    got = _counts(_WIN)
    assert got == WINDOW_WHITELIST, (
        "Window.orderBy WITHOUT partitionBy sites changed — an "
        "unpartitioned window is a single task; prove the new site's "
        "input is O(metadata)-sized and whitelist it here, or sum via "
        "spatial/strpack.prefix_sums instead.\n"
        f"found={got}\nwhitelist={WINDOW_WHITELIST}")


def test_partitioned_windows_are_actually_partitioned():
    # The whitelist above counts Window.orderBy(...) heads; a
    # Window.partitionBy(...).orderBy(...) chain never matches _WIN
    # (the regex anchors on 'Window.orderBy'). Sanity-pin that the
    # codebase really does use partitioned windows widely, so the
    # sweep is measuring the right thing.
    parted = _counts(_PARTED)
    assert sum(parted.values()) >= 10, parted


def test_collect_sites_whitelisted():
    got = _counts(_COLLECT)
    assert got == COLLECT_WHITELIST, (
        ".collect() sites changed — every site must return "
        "O(metadata), never row data; audit the new site and update "
        "the whitelist with its bound.\n"
        f"found={got}\nwhitelist={COLLECT_WHITELIST}")


def test_streams_start_in_one_substrate():
    for pattern, helper in ((_READ_STREAM, "file_stream"),
                            (_AVAILABLE_NOW, "run_available_now")):
        got = _counts(pattern)
        assert got == STREAM_SUBSTRATE, (
            f"{pattern.pattern} outside the streaming substrate — read "
            f"and launch through streaming/events.{helper}.\n"
            f"found={got}\nwhitelist={STREAM_SUBSTRATE}")


def test_routes_relax_in_one_substrate():
    for needle, under, helper in ROUTE_SUBSTRATE:
        got = {}
        for rel, path in _py_files():
            if rel.startswith(under):
                with open(path, encoding="utf-8") as fh:
                    n = fh.read().count(needle)
                if n:
                    got[rel] = n
        assert got == {"spatial/route.py": 1}, (
            f"{needle!r} outside the routing substrate — relax through "
            f"spatial/route.{helper}.\nfound={got}")
