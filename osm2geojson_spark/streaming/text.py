"""Structured-Streaming twins for the TEXT/search pipeline — the
ingest-time half of the inverted-index story: documents land
continuously, every micro-batch emits its docs' positional postings,
and the postings TABLE is what accumulates (the Lucene
segment-per-batch model re-expressed as a streaming sink).

Key design fact that keeps this exactly-incremental: positional
postings are DOC-LOCAL — (term, doc_id, tf, positions) depends on one
document only, so the stream needs NO cross-batch aggregation state at
all (contrast sessionize). Document frequency is deliberately NOT
maintained in-stream: df is a query-time window over the accumulated
postings (exactly how the batch ``inverted_index`` catalog op computes
it), which keeps the stream append-only and the sink idempotent per
file. The per-doc kernel is shared verbatim with the batch path, so
batch/stream parity is by construction and pinned in
tests/test_streaming_text.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

POSTINGS_SCHEMA = ("term string, doc_id long, tf long, "
                   "positions array<long>")
# the documents table, landing as file drops (``events.file_stream``)
DOCS_SCHEMA = ("doc_id long, text string, lang string, source string, "
               "n_chars long")


def doc_postings(docs: DataFrame) -> DataFrame:
    """Per-document positional postings (term, doc_id, tf, positions)
    as a pure MAP stage — an Arrow-batched kernel building each doc's
    postings locally (whitespace tokens, the functions/text contract).
    Stream-capable because it aggregates nothing across rows; works
    identically on batch and streaming frames."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["term", "doc_id", "tf", "positions"]
        for pdf in batches:
            rows = []
            for t in pdf.itertuples(index=False):
                toks = [w for w in (t.text or "").strip().split() if w]
                by_term: dict[str, list[int]] = {}
                for i, w in enumerate(toks):
                    by_term.setdefault(w, []).append(i)
                rows.extend((w, t.doc_id, len(by_term[w]), by_term[w])
                            for w in sorted(by_term))
            # rows-list construction keeps every column object-dtyped —
            # a dict of empty lists infers float64 and Arrow then cannot
            # cast it to list<int64>
            yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id", "text").mapInPandas(run, POSTINGS_SCHEMA)
