"""Web-archive (WARC) ingestion — the Common Crawl-shaped source a
training-data pipeline reads.

The reference's only document source is the STAC catalog
(`src/extract/download_landsat_stac.py:87-193`); a 100 TB text
pipeline's analog is crawl archives: millions of WARC files, each a
concatenation of length-prefixed records. The Spark-native shape is
the same as the GeoTIFF codec (`operators/raster.py`):

    spark.read.format("binaryFile") → map_rows(parse) → rows

- **binaryFile** gives distributed file scheduling, one task per
  file (WARC members can't be split mid-record without an index, so
  file granularity IS the parallel unit — Common Crawl ships ~1 GiB
  files precisely so that file-level parallelism saturates a
  cluster).
- The parser is pure Python over bytes (Arrow-batched, one file per
  row) — no external deps; gzip (whole-file or multi-member, which
  is how real WARCs are written) is handled transparently via
  stdlib zlib.
- Output rows carry the WARC headers that matter downstream
  (record type, target URI, content type, payload bytes) — the
  payload stays BINARY; text extraction is a separate, pluggable
  step (`warc_documents`), mirroring the engine's multimodal rule
  that decode lives behind a typed boundary.

Memory discipline: one task holds one file's decompressed bytes plus
its parsed records — bounded by WARC file sizing convention (~1 GiB
compressed), same per-task envelope as a GeoTIFF scene. An offset
index (like CC's cdx) would enable record-level splits; file-level
parallelism already scales to any corpus since |files| >> |cores|.
"""

from __future__ import annotations

import zlib
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WARC_SCHEMA = T.StructType(
    [
        T.StructField("source_file", T.StringType()),
        T.StructField("record_idx", T.IntegerType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("content_length", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a possibly multi-member gzip stream (the standard
    WARC layout is one gzip member per record, concatenated)."""
    out = []
    while data[:2] == _GZIP_MAGIC:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.append(d.decompress(data))
        data = d.unused_data
        if not data:
            break
    return b"".join(out) if out else data


def parse_warc_bytes(raw: bytes, source: str) -> list[dict[str, Any]]:
    """Parse one WARC file's bytes into record dicts.

    Format per WARC/1.1 §4: a version line, CRLF header lines until a
    blank line, exactly Content-Length payload bytes, then two CRLFs.
    Tolerates LF-only input and trailing garbage (stops at the first
    structure violation rather than raising — malformed tails become
    a short read, the quarantine-not-raise rule E1)."""
    if raw[:2] == _GZIP_MAGIC:
        raw = _gunzip_members(raw)
    records: list[dict[str, Any]] = []
    pos = 0
    n = len(raw)
    while pos < n:
        # skip inter-record blank lines
        while pos < n and raw[pos : pos + 2] in (b"\r\n", b"\n\n"):
            pos += 2 if raw[pos : pos + 2] == b"\r\n" else 1
        while pos < n and raw[pos : pos + 1] == b"\n":
            pos += 1
        if pos >= n:
            break
        if not raw[pos : pos + 5] == b"WARC/":
            break  # structure violation: stop, keep what we have
        hdr_end = raw.find(b"\r\n\r\n", pos)
        sep = 4
        if hdr_end == -1:
            hdr_end = raw.find(b"\n\n", pos)
            sep = 2
        if hdr_end == -1:
            break
        headers: dict[str, str] = {}
        for line in raw[pos:hdr_end].split(b"\n")[1:]:
            line = line.strip(b"\r")
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            length = int(headers.get("content-length", "0"))
        except ValueError:
            break
        body_start = hdr_end + sep
        payload = raw[body_start : body_start + length]
        if len(payload) < length:
            break  # truncated record
        records.append(
            {
                "source_file": source,
                "record_idx": len(records),
                "warc_type": headers.get("warc-type"),
                "target_uri": headers.get("warc-target-uri"),
                "warc_date": headers.get("warc-date"),
                "content_type": headers.get("content-type"),
                "content_length": length,
                "payload": payload,
            }
        )
        pos = body_start + length
    return records


def read_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Distributed WARC scan: binaryFile file scheduling + an
    Arrow-batched per-file parser. One output row per WARC record."""
    from ..operators.arrow_kernels import map_rows

    files = spark.read.format("binaryFile").load(path_glob).select("path", "content")

    def parse(row):
        for rec in parse_warc_bytes(bytes(row.content), row.path):
            yield tuple(rec.values())  # WARC_SCHEMA order

    return map_rows(files, parse, WARC_SCHEMA)


def warc_documents(records: DataFrame) -> DataFrame:
    """response-record payloads → the engine's documents relation:
    strip any HTTP header block, decode UTF-8 (lossy), keep text-ish
    content types. Deterministic doc ids from (file, record) so
    re-ingestion upserts cleanly (K3 anti-join idiom)."""
    decoded = F.decode(F.col("payload"), "UTF-8")
    # HTTP response payloads open with 'HTTP/'; the body follows the
    # first blank line. Non-HTTP payloads pass through whole.
    blank = F.locate("\r\n\r\n", decoded)
    body = F.when(
        decoded.startswith("HTTP/") & (blank > 0),
        F.expr("substring(decoded, locate('\r\n\r\n', decoded) + 4)"),
    ).otherwise(decoded)
    # Record-level Content-Type of a spec-compliant response record is
    # 'application/http; msgtype=response' (WARC/1.1 §6.3) — the
    # payload's MIME type lives in the HTTP headers, not the WARC
    # header. Accept the HTTP envelope type and filter on the inner
    # Content-Type header instead (absent header ⇒ keep, like a NULL
    # record type); non-HTTP records keep the old text-ish screen.
    header_block = F.when(
        decoded.startswith("HTTP/") & (blank > 0), F.substring(decoded, 1, blank)
    ).otherwise(F.lit(""))
    http_ct = F.lower(
        F.regexp_extract(header_block, r"(?i)content-type:\s*([^\r\n;]+)", 1)
    )
    rec_ct = F.lower(F.col("content_type"))
    textish = "text/|html|json|xml|javascript|csv|plain|warc"
    keep_ct = (
        F.col("content_type").isNull()
        | rec_ct.rlike(textish)
        | (
            rec_ct.startswith("application/http")
            & ((http_ct == "") | http_ct.rlike(textish))
        )
    )
    return (
        records.filter(F.col("warc_type").isin("response", "resource", "conversion"))
        .filter(keep_ct)
        .withColumn("decoded", decoded)
        .select(
            F.xxhash64("source_file", "record_idx").alias("doc_id"),
            F.col("target_uri").alias("url"),
            body.alias("text"),
            F.col("warc_date").alias("fetched_at"),
            F.col("source_file").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
