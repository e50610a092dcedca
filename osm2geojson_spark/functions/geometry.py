"""GE1-GE3 — GeoJSON geometry constructors + GRAFT ring stitching.

GE1 Point (OsmPostProcessor.java:128) and GE2 LineString/Polygon
(getWayGeometry, :194-208) are pure column expressions. The reference's
closure rule is reproduced exactly: coords[0] == coords[last] → Polygon
(ONE ring, no winding validation); else LineString. Winding normalization
is engine-new and applied only in the stitcher / normalize helpers, with
the raw orientation preserved (SURVEY.md §2.8 gotcha).

GE3 multipolygon assembly is NOT in the reference (returns null,
OsmPostProcessor.java:216-227 FIXME). Spec'd here per north_star:
endpoint-chaining of member ways into closed rings (matching on node ids),
outer/inner role resolution, hole-to-shell assignment by containment,
RFC 7946 winding (CCW outer / CW inner). Runs as a vectorized kernel over
already-assembled relation rows — each row is self-contained, so it is a
mapInPandas (NO extra shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ------------------------------------------------------------- column exprs
def point_geometry(lon: Column, lat: Column) -> Column:
    """GE1: node → Point coordinates [lon, lat]."""
    return F.array(lon, lat)


def way_coords(nodes: Column) -> Column:
    """Assembled node chain → array<[lon,lat]> in ns-order."""
    return F.transform(nodes, lambda n: F.array(n["lon"], n["lat"]))


def way_geom_type(coords: Column) -> Column:
    """GE2 closure rule (OsmPostProcessor.java:200): first==last → Polygon."""
    return F.when(
        (F.size(coords) > 0)
        & (F.element_at(coords, 1) == F.element_at(coords, -1)),
        F.lit("Polygon"),
    ).otherwise(F.lit("LineString"))


# ------------------------------------------------------------- numpy kernels
def _signed_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Even-odd ray cast (shared with spatial G2)."""
    x, y = ring[:, 0], ring[:, 1]
    x1, y1 = x[:-1], y[:-1]
    x2, y2 = x[1:], y[1:]
    cross = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    return bool(np.count_nonzero(cross & (px < xint)) % 2)


def stitch_rings(
    ways: list[tuple[str, list[int], np.ndarray]],
) -> tuple[list[tuple[str, np.ndarray]], list[int]]:
    """Chain member ways into closed rings by matching endpoint NODE IDS
    (coords can repeat across distinct nodes; ids cannot).

    ways: [(role, node_ids, coords(n,2))]. Returns ([(role, ring_coords)],
    [way_ids_left_unclosed]) — unclosed fragments go to diagnostics, like
    the reference's problem* sinks.
    """
    unused = {i: (role, list(ids), np.asarray(c, dtype=np.float64))
              for i, (role, ids, c) in enumerate(ways) if len(ids) >= 2}
    rings: list[tuple[str, np.ndarray]] = []
    leftover: list[int] = []
    while unused:
        i, (role, ids, coords) = next(iter(unused.items()))
        del unused[i]
        ids, coords = list(ids), [coords]
        progressed = True
        while ids[0] != ids[-1] and progressed:
            progressed = False
            for j, (jrole, jids, jc) in list(unused.items()):
                if jids[0] == ids[-1]:
                    ids += jids[1:]
                    coords.append(jc[1:])
                elif jids[-1] == ids[-1]:
                    ids += jids[-2::-1]
                    coords.append(jc[-2::-1])
                elif jids[-1] == ids[0]:
                    ids = jids[:-1] + ids
                    coords.insert(0, jc[:-1])
                elif jids[0] == ids[0]:
                    ids = jids[::-1][:-1] + ids
                    coords.insert(0, jc[::-1][:-1])
                else:
                    continue
                del unused[j]
                progressed = True
                break
        ring = np.concatenate(coords, axis=0)
        if ids[0] == ids[-1] and len(ids) >= 4:
            rings.append((role, ring))
        else:
            leftover.append(i)
    return rings, leftover


def build_multipolygon(
    ways: list[tuple[str, list[int], np.ndarray]],
) -> tuple[list[list[list[list[float]]]] | None, int, int]:
    """Full GE3: stitch → classify by role ('' defaults to outer) →
    normalize winding (outer CCW, inner CW per RFC 7946) → assign each
    hole to the shell containing its first vertex.

    Returns (multipolygon_coords | None, n_reversed, n_unclosed):
    ``n_reversed`` records how many input rings arrived with the WRONG
    winding (pre-normalization orientation — the lineage the reference
    never kept because it never validated winding, SURVEY §2.8 gotcha);
    ``n_unclosed`` counts fragments that failed to chain (→ diagnostics,
    mirroring the problem* sinks)."""
    rings, leftover = stitch_rings(ways)
    outers, inners = [], []
    n_reversed = 0
    for role, ring in rings:
        area = _signed_area(ring)
        if role == "inner":
            if area > 0:  # inner must be CW
                ring = ring[::-1]
                n_reversed += 1
            inners.append(ring)
        else:
            if area < 0:  # outer must be CCW
                ring = ring[::-1]
                n_reversed += 1
            outers.append(ring)
    if not outers:
        return None, n_reversed, len(leftover)
    polys: list[list[np.ndarray]] = [[o] for o in outers]
    for hole in inners:
        px, py = float(hole[0, 0]), float(hole[0, 1])
        for poly in polys:
            if _point_in_ring(px, py, poly[0]):
                poly.append(hole)
                break
    coords = [[ring.tolist() for ring in poly] for poly in polys]
    return coords, n_reversed, len(leftover)


# ------------------------------------------------------------- Spark wiring
_MULTI_T = "array<array<array<array<double>>>>"


def relation_multipolygons(assembled: DataFrame) -> DataFrame:
    """GE3 over assembled relations (output of assemble_relations).

    mapInPandas: each input row already embeds every member way with
    geometry (J5/J6), so stitching is shuffle-free and Arrow-batched.
    Adds ``multipolygon`` (nullable 4-deep coords) and ``n_rings``.
    """
    out_schema = (
        "id long, tags map<string,string>, "
        f"multipolygon {_MULTI_T}, n_rings int, n_reversed int, n_unclosed int"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = []
            # column extraction + zip, NOT iterrows (pandas' slowest API —
            # it builds a Series per row; VERDICT r1 №5)
            for rid, tags, rways in zip(
                pdf["id"].to_numpy(), pdf["tags"], pdf["ways"]
            ):
                ways = [
                    (
                        w["role"] or "",
                        [n["id"] for n in w["nodes"]],
                        np.array([[n["lon"], n["lat"]] for n in w["nodes"]])
                        if len(w["nodes"])
                        else np.empty((0, 2)),
                    )
                    for w in rways
                ]
                mp, n_rev, n_unc = (
                    build_multipolygon(ways) if ways else (None, 0, 0))
                res.append(
                    (rid, tags, mp,
                     sum(len(p) for p in mp) if mp else 0, n_rev, n_unc)
                )
            yield pd.DataFrame(
                res, columns=["id", "tags", "multipolygon", "n_rings",
                              "n_reversed", "n_unclosed"])

    return assembled.select("id", "tags", "ways").mapInPandas(run, out_schema)
