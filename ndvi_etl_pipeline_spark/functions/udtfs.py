"""Python UDTFs (Spark 4 table functions), arrow-optimized.

The engine's generator-shaped kernels as first-class table functions:
a UDTF is the UDTF-ish surface SURVEY §2.9 maps grouped-map kernels to,
but composable from SQL (`LATERAL chunk_spans(...)`) and planned as a
vectorized `ArrowEvalPythonUDTF` node — batch-transferred, never
row-at-a-time (the engine bans `BatchEvalPython` plans; see
tools/audit_plans.py).

Reference parity: the chunker mirrors the overlapping-window chunk
inventory of operators/curation.py::chunk_lengths (window 64 /
stride 48) — the RAG/embedding chunking shape a training-data pipeline
runs over a 100 TB corpus. Only spans (index, start, length) are
emitted; token text never leaves the scan.
"""

from __future__ import annotations

from pyspark.sql.functions import udtf


@udtf(returnType="chunk_idx int, chunk_start int, chunk_len int", useArrow=True)
class ChunkSpans:
    """Overlapping chunk spans for a document of `n_tok` tokens.

    Semantics (identical to operators/curation.py::chunk_lengths and
    the doc_chunking DuckDB oracle): a document with n_tok <= window
    yields exactly one chunk of length n_tok (including empty docs);
    otherwise chunks start every `stride` tokens and the count is
    ceil((n_tok - window) / stride) + 1, the last chunk truncated to
    the remaining tokens.
    """

    def eval(self, n_tok: int, window: int, stride: int):
        if n_tok is None or window is None or stride is None or stride <= 0:
            return
        if n_tok <= window:
            yield (0, 0, max(n_tok, 0))
            return
        i, start = 0, 0
        while True:
            yield (i, start, min(window, n_tok - start))
            if start + window >= n_tok:
                break
            i += 1
            start += stride


@udtf(
    returnType=(
        "record_idx int, warc_type string, target_uri string, "
        "content_length bigint, payload binary"
    ),
    useArrow=True,
)
class WarcRecords:
    """WARC record expansion as a table function: one WARC file's raw
    bytes in, one row per record out — `LATERAL warc_records(content)`
    over a binaryFile scan is the SQL-composable twin of
    sources/webarchive.py::read_warc (same parser,
    `parse_warc_bytes`, same tolerate-don't-raise tail handling).
    Planned as ArrowEvalPythonUDTF: record expansion happens
    batch-vectorized next to the scan, no shuffle added, payload
    stays BINARY."""

    def eval(self, content, source: str | None = None):
        if content is None:
            return
        from ..sources.webarchive import parse_warc_bytes

        for rec in parse_warc_bytes(bytes(content), source or ""):
            yield (
                rec["record_idx"],
                rec["warc_type"],
                rec["target_uri"],
                rec["content_length"],
                rec["payload"],
            )


def register_udtfs(spark) -> None:
    """Register all engine UDTFs on a session (idempotent)."""
    spark.udtf.register("chunk_spans", ChunkSpans)
    spark.udtf.register("warc_records", WarcRecords)
