"""`warc` — a Python DataSource (Spark 4 DataSource API) for
web-archive files: ``spark.read.format("warc").load()`` over a
directory of .warc / .warc.gz files.

Third transport for the WARC parser (after the `map_rows` reader
`sources/webarchive.py::read_warc` and the `warc_records` UDTF,
functions/udtfs.py) — one parser, three surfaces, because that is how
the engine exposes every codec. What the DataSource adds over the
binaryFile+map_rows path:

- **file-granular partitions with no driver content reads**:
  `partitions()` lists names only; each executor opens exactly its
  own files (the binaryFile reader instead materializes file CONTENT
  into an exchange before the parser sees it — at Common Crawl scale,
  ~1 GiB per file, that is a pointless extra copy of the corpus
  through shuffle/broadcast memory);
- **reader-native ergonomics**: format options (`pattern`,
  `numPartitions`), usable from SQL via
  ``CREATE TABLE ... USING warc`` or `spark.read`, no imports at the
  call site.

Rows are WARC_SCHEMA (record headers + BINARY payload), identical to
`read_warc` — the equality is test-pinned. Payload stays binary;
text extraction remains the separate `warc_documents` step.

Scale shape: WARC members are not splittable mid-record without a
cdx-style index, so file granularity IS the parallel unit (Common
Crawl ships ~1 GiB files precisely for this); |files| >> |cores|
saturates any cluster, and one task holds one file's decompressed
bytes — the same envelope as the GeoTIFF scan.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ._filescan import list_files, round_robin_splits

from .webarchive import WARC_SCHEMA, parse_warc_bytes

_FIELDS = [f.name for f in WARC_SCHEMA.fields]


class WarcReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("warc source requires option 'path' (or load(path))")
        self.path = path
        self.pattern = options.get("pattern", "*.warc*")
        self.num_partitions = int(options.get("numPartitions", 16))

    def _files(self) -> list[str]:
        return list_files(self.path, self.pattern)

    def partitions(self) -> list[InputPartition]:
        return [
            InputPartition(s)
            for s in round_robin_splits(self._files(), self.num_partitions)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        for path in partition.value:
            with open(path, "rb") as fh:
                raw = fh.read()
            for rec in parse_warc_bytes(raw, path):
                yield tuple(rec[k] for k in _FIELDS)


class WarcDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the warc format."""
    spark.dataSource.register(WarcDataSource)
