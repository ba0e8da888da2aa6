"""Manifest lake: a minimal transactional table format on plain
parquet — the snapshot/ACID layer a 100 TB curation store needs under
concurrent writers and long-running readers (the public Delta Lake /
Iceberg design, reduced to its load-bearing core; no proprietary
formats, just parquet data files + JSON manifests).

Layout:
    <table>/data/<commit-uuid>/part-*.parquet   immutable data files
    <table>/data/<commit-uuid>/col=val/...      (partitioned tables)
    <table>/_manifests/v<N>.json                commit N: a DELTA log
                                                segment — files added/
                                                removed, schema, op
    <table>/_manifests/ckpt-v<N>.parquet        periodic CHECKPOINT:
                                                the full live-file set
                                                (stats/partitions/bloom)
                                                at snapshot N, columnar
    <table>/_manifests/_last_checkpoint         pointer to available
                                                checkpoints

Invariants (the whole correctness story):
- Data files are IMMUTABLE once referenced; every operation writes new
  files and publishes a new manifest. Readers pin a manifest version,
  so a reader started at v3 sees v3 forever (snapshot isolation) while
  writers move the table forward.
- A commit is the atomic link of `v<N+1>.json` into place (write the
  full content to a temp file, hard-link it at the target — link
  fails with EEXIST if the version exists, and a reader can never
  observe a half-written manifest) — the filesystem's atomic
  create-if-absent is the whole lock.
- METADATA IS O(DELTA), NOT O(TABLE): each commit's manifest records
  only the files it ADDED and REMOVED (plus the small scalar state —
  schema, DV list, layout, constraints — which is O(columns), never
  O(files)). A snapshot's full file list is RECONSTRUCTED from the
  nearest parquet CHECKPOINT plus at most LAKE_CHECKPOINT_INTERVAL
  delta segments (the Delta Lake `_last_checkpoint` design; Iceberg's
  manifest lists solve the same problem). At 10^6 files a commit is
  KBs, not GBs, and planning never re-parses the table's history.
  Checkpoints additionally carry TYPED min__/max__/part__ pruning
  columns so file skipping can run as a distributed Spark scan over
  the checkpoint itself instead of a driver loop (lake_read switches
  automatically above LAKE_SPARK_PLAN_MIN_FILES). Two concurrent writers
  race on the same version; the loser gets ConcurrentCommitError and
  the operation RETRIES automatically on top of the winner (optimistic
  concurrency, Delta's protocol): appends re-merge the file list
  (append vs append is always disjoint — the data files are already on
  disk and immutable, only the manifest re-publishes), while
  delete/merge/compact RE-RUN from the winner's snapshot, because the
  winner may have added files the copy-on-write pruning never scanned.
  Data files from a lost attempt are unreferenced orphans; vacuum
  collects them after the retention window.
- DELETE is copy-on-write by default: only the files that actually
  contain matching rows are rewritten (located via the scan's
  _metadata file path); all other files carry over to the new manifest
  untouched. With strategy="dv" it is merge-on-read instead: NO data
  file is rewritten — the deleted rows' (file, row-ordinal) addresses
  are written as a parquet deletion-vector set under <table>/dv/ and
  every read anti-joins the broadcast DV relation (Delta/Iceberg-v2
  position deletes). COMPACT materializes DVs and clears them.
- COMPACT rewrites the live set into fewer files without changing
  rows; old versions still reference the old files, so time travel
  keeps working until VACUUM drops manifests (and then deletes data
  files no kept manifest references — but never files younger than
  the retention window, which would corrupt an in-flight writer's
  not-yet-committed snapshot).
- Partitioned tables (lake_write(..., partition_by=...)) lay files
  out hive-style under the commit dir; the partition VALUES are
  recorded per file in the manifest, so lake_read prunes on them
  exactly (Iceberg identity-partition pruning) even though the
  columns are not stored inside the parquet files. Reads recover the
  partition columns via one basePath-scoped scan per commit dir.
- Partition TRANSFORMS (bucket(N,col), truncate(W,col), day/month/
  year(col)) give Iceberg-style HIDDEN partitioning: the layout keys
  on a derived dir column, the source column stays in the data, and
  a `where` on the source column prunes files by applying the same
  transform to the predicate value — equality/in for buckets,
  ranges too for the order-preserving transforms.
- Per-file BLOOM filters (lake_write(..., bloom_cols=...)) prune
  equality/IN point lookups on high-entropy key columns that min/max
  ranges cannot (a fingerprint column's per-file range spans the
  whole domain) — 1 KiB per file per column in the manifest,
  inherited by appends and rebuilt by COW rewrites.

Driver work is manifest-scale (file lists, schema JSON); all row work
is distributed Spark jobs.
"""

from __future__ import annotations

import functools as _functools
import json
import os
import re
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.arrow_kernels import local_df

#: Files younger than this are never vacuumed even when unreferenced —
#: they may belong to a writer that has staged data but not yet
#: committed its manifest (Delta's VACUUM retention, scaled to the
#: single-host deployment; pass retention_seconds=0 only when no
#: writer can be active).
DEFAULT_VACUUM_RETENTION = 3600.0

#: Commit-race retries. Each retry is manifest-scale work for appends
#: (re-read + re-publish, no data rewritten), so the budget is set for
#: MANY genuinely concurrent writers: with N appenders racing, one
#: writer can lose up to ~N×(commits each) times before its turn.
#: Delta's equivalent budget is similarly generous.
_MAX_COMMIT_ATTEMPTS = 20
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first. Raised by the
    low-level _commit primitive on every lost race (as the
    _CommitConflict subclass, which the operations' bounded retry
    loops consume internally) and by the public operations only when
    the retry loop is exhausted — the table is moving faster than the
    operation can re-run."""


def _fs_path(name: str) -> str:
    """input_file_name() value → decoded absolute filesystem path.
    Spark returns a percent-encoded file: URI (a table path containing
    a space arrives as %20), so a raw string compare against
    os.path.abspath silently never matches — decode first."""
    if name.startswith("file:"):
        name = urlparse(name).path
    return os.path.abspath(unquote(name))


def _entry_rel(e) -> str:
    """One manifest file entry → its table-relative path."""
    return e["path"] if isinstance(e, dict) else e


def _paths(entries) -> list[str]:
    """Manifest file entries → table-relative paths (entries are
    {"path", "stats"} dicts; bare strings accepted defensively)."""
    return [_entry_rel(e) for e in entries]


_OPS = {
    "==": lambda c, v: c == v,
    "=": lambda c, v: c == v,
    ">=": lambda c, v: c >= v,
    ">": lambda c, v: c > v,
    "<=": lambda c, v: c <= v,
    "<": lambda c, v: c < v,
    "in": lambda c, v: c.isin(list(v)),
}


def _cmp(op: str, left, right) -> bool:
    if op in ("==", "="):
        return left == right
    if op == ">=":
        return left >= right
    if op == ">":
        return left > right
    if op == "<=":
        return left <= right
    return left < right  # "<"


# --- partition transforms (Iceberg-style hidden partitioning) ------------
#
# partition_by entries are either a bare column name (identity — hive
# layout on the column itself, value recovered from the dir name) or a
# TRANSFORM over a source column:
#
#     bucket(N, col)    crc32(string(col)) mod N — equality/in pruning
#     truncate(W, col)  ints: (col div W)*W; strings: first W chars —
#                       equality + range pruning (order-preserving)
#     day(col) / month(col) / year(col)
#                       calendar truncation of a date/timestamp to an
#                       ISO string — equality + range pruning (ISO
#                       strings are order-preserving at one granularity)
#
# A transform partitions the LAYOUT on a derived dir column while the
# source column stays inside the data files, so reads need no
# dir-value recovery and a `where` on the SOURCE column prunes files
# by applying the same transform to the predicate value (the whole
# point of hidden partitioning: callers never mention the transform).
# The bucket hash is crc32-of-string — deliberately reproducible on
# both the JVM (F.crc32) and the Python pruning side (zlib.crc32), at
# the cost of documenting that bucket columns should be int/string
# (float string forms differ between engines).

_TRANSFORM_RE = re.compile(r"^(bucket|truncate|day|month|year)\((?:(\d+)\s*,\s*)?([A-Za-z_]\w*)\)$")


def _parse_partition_spec(spec: str):
    """spec → (kind, param, source_col, dir_col). Identity specs are
    (identity, None, col, col)."""
    m = _TRANSFORM_RE.match(spec.strip())
    if not m:
        if not re.match(r"^[A-Za-z_]\w*$", spec.strip()):
            raise ValueError(f"bad partition spec {spec!r}")
        c = spec.strip()
        return ("identity", None, c, c)
    kind, param, col = m.group(1), m.group(2), m.group(3)
    if kind in ("bucket", "truncate"):
        if not param:
            raise ValueError(f"{kind} needs a numeric parameter: {spec!r}")
        param = int(param)
        if param <= 0:
            raise ValueError(f"{kind} parameter must be positive: {spec!r}")
    elif param:
        raise ValueError(f"{kind} takes no parameter: {spec!r}")
    return (kind, param, col, f"{col}__{kind}{param or ''}")


def _transform_column(df: DataFrame, kind: str, param, col: str):
    """The Spark-side derived dir column for a transform spec."""
    if kind == "bucket":
        return F.pmod(F.crc32(F.col(col).cast("string")), F.lit(param))
    if kind == "truncate":
        dt = df.schema[col].dataType
        if isinstance(dt, T.StringType):
            return F.substring(F.col(col), 1, param)
        return (F.floor(F.col(col) / F.lit(param)) * F.lit(param)).cast("long")
    fmt = {"day": "yyyy-MM-dd", "month": "yyyy-MM", "year": "yyyy"}[kind]
    return F.date_format(F.col(col), fmt)


def _transform_value(kind: str, param, val):
    """Apply the same transform to a predicate value on the Python
    side (for manifest pruning). Returns None when the value can't be
    transformed faithfully — the caller keeps the file."""
    import datetime
    import zlib

    if kind == "bucket":
        if isinstance(val, bool) or not isinstance(val, (int, str)):
            return None  # floats/dates: string forms differ across engines
        return zlib.crc32(str(val).encode()) % param
    if kind == "truncate":
        if isinstance(val, str):
            return val[:param]
        if isinstance(val, bool) or not isinstance(val, int):
            return None
        return (val // param) * param
    if isinstance(val, datetime.datetime):
        d = val
    elif isinstance(val, datetime.date):
        d = datetime.datetime(val.year, val.month, val.day)
    elif isinstance(val, str):
        try:
            d = datetime.datetime.fromisoformat(val[:19])
        except ValueError:
            return None
    else:
        return None
    if kind == "day":
        return d.strftime("%Y-%m-%d")
    if kind == "month":
        return d.strftime("%Y-%m")
    return d.strftime("%Y")


def _transform_prunes(kind: str, param, parts_val: str | None, op: str, val) -> bool:
    """True when the transform PROVES this file cannot match
    (col, op, val). Buckets prune equality only; truncate and the
    calendar transforms are order-preserving, so ranges prune too."""
    if parts_val is None:
        return False
    if op == "in":
        tv = [_transform_value(kind, param, v) for v in val]
        if any(t is None for t in tv):
            return False
        return not any(
            _partition_value_matches(parts_val, "==", t) for t in tv
        )
    t = _transform_value(kind, param, val)
    if t is None:
        return False
    if op in ("==", "="):
        return not _partition_value_matches(parts_val, "==", t)
    if kind == "bucket":
        return False  # hash buckets carry no order
    # order-preserving transforms: file value f, predicate value t.
    # col > val  can only match files with f >= t (truncation loses
    # the sub-unit offset, so the boundary unit must be kept) — and
    # symmetrically for the other inequalities.
    return not _partition_value_matches(
        parts_val, op + "=" if op in (">", "<") else op, t
    )


# --- per-file Bloom filters (point-lookup file skipping) ------------------
#
# min/max ranges cannot prune high-entropy keys (a fingerprint or id
# column's per-file range spans the whole domain), so equality/IN
# lookups degenerate to full-table scans. A small per-file Bloom
# filter in the manifest — Iceberg puts them in parquet, Delta in the
# checkpoint — makes "find these K keys among N files" read only the
# files that may contain them. m=8192 bits (1 KiB) / k=4 gives a
# ~2.4% false-positive rate at ~1.2k distinct keys per file; false
# positives only cost an extra file read, never correctness. The hash
# is crc32 over "<i>|<string form>" so the JVM build side (F.crc32)
# and the Python pruning side (zlib.crc32) agree — bloom columns are
# therefore restricted to int/string (float string forms differ).

_BLOOM_M = 8192
_BLOOM_K = 4


@_functools.lru_cache(maxsize=1 << 16)
def _bloom_positions_py(val, m: int = _BLOOM_M, k: int = _BLOOM_K) -> tuple[int, ...]:
    import zlib

    return tuple(
        zlib.crc32(f"{i}|{val}".encode()) % m for i in range(k)
    )


@_functools.lru_cache(maxsize=256)
def _bloom_bits(b64: str) -> bytes:
    import base64

    return base64.b64decode(b64)


def _bloom_may_contain(bloom: dict, val) -> bool:
    bits = _bloom_bits(bloom["bits"])
    m = int(bloom.get("m", _BLOOM_M))
    k = int(bloom.get("k", _BLOOM_K))
    return all(
        (bits[pos >> 3] >> (pos & 7)) & 1
        for pos in _bloom_positions_py(val, m, k)
    )


def _partition_value_matches(raw: str | None, op: str, val) -> bool:
    """Exact pruning on a hive partition-dir value. The stored value
    is a string (or None for the hive null dir); cast it to the
    predicate value's type before comparing. Any cast doubt keeps the
    file (correctness over skipping)."""
    if raw is None:
        return False  # NULL satisfies no comparison predicate
    try:
        if isinstance(val, bool):
            typed = raw.lower() in ("true", "1")
        elif isinstance(val, int):
            typed = int(raw)
        elif isinstance(val, float):
            typed = float(raw)
        else:
            typed = raw
    except (TypeError, ValueError):
        return True
    try:
        return _cmp(op, typed, val)
    except TypeError:
        return True


def _file_may_match(entry, where, partition_by: tuple[str, ...] = ()) -> bool:
    """Can this file contain rows satisfying ALL (col, op, value)
    conjuncts? False only when the manifest PROVES emptiness — from
    the exact partition value when the column is a partition column,
    from a partition TRANSFORM applied to the predicate value when the
    layout is transform-partitioned (hidden partitioning — the
    predicate references the SOURCE column), else from the per-file
    min/max stats. Missing stats always keep the file, and NaN bounds
    keep the file too: every comparison with NaN is False, so a NaN
    max would otherwise "prove" emptiness for a file that may hold
    matching non-NaN rows."""
    if not isinstance(entry, dict):
        return True
    parts = entry.get("partitions") or {}
    stats = entry.get("stats") or {}
    bloom = entry.get("bloom") or {}
    transforms: dict[str, list] = {}
    for sp in partition_by:
        kind, param, col, dcol = _parse_partition_spec(sp)
        if kind != "identity":
            transforms.setdefault(col, []).append((kind, param, dcol))
    for col, op, val in where:
        bl = bloom.get(col)
        if bl:
            if op in ("==", "=") and not _bloom_may_contain(bl, val):
                return False
            if op == "in" and not any(_bloom_may_contain(bl, v) for v in val):
                return False
        for kind, param, dcol in transforms.get(col, ()):
            if _transform_prunes(kind, param, parts.get(dcol), op, val):
                return False
        if col in parts:
            if op == "in":
                if not any(
                    _partition_value_matches(parts[col], "==", v) for v in val
                ):
                    return False
            elif not _partition_value_matches(parts[col], op, val):
                return False
            continue
        rng = stats.get(col)
        if not rng or rng[0] is None or rng[1] is None:
            continue
        mn, mx = rng[0], rng[1]
        if mn != mn or mx != mx:  # NaN bound: stats prove nothing
            continue
        if op == "in" and not any(mn <= v <= mx for v in val):
            return False
        if op in ("==", "=") and not (mn <= val <= mx):
            return False
        if op == ">=" and mx < val:
            return False
        if op == ">" and mx <= val:
            return False
        if op == "<=" and mn > val:
            return False
        if op == "<" and mn >= val:
            return False
    return True


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "_manifests")


#: Every Nth commit also writes a parquet CHECKPOINT of the full
#: live-file set, bounding snapshot reconstruction to ≤ N delta
#: segments (Delta Lake checkpoints every 10 commits by default).
LAKE_CHECKPOINT_INTERVAL = 16

#: Above this live-file count, lake_read's file skipping runs as a
#: Spark scan over the checkpoint's typed pruning columns instead of
#: a driver loop over entry dicts (the distributed planning path).
LAKE_SPARK_PLAN_MIN_FILES = 50_000


def _ckpt_file(path: str, version: int) -> str:
    return os.path.join(_manifest_dir(path), f"ckpt-v{version}.parquet")


def _last_ckpt_file(path: str) -> str:
    return os.path.join(_manifest_dir(path), "_last_checkpoint")


def _ckpt_versions(path: str) -> list[int]:
    """Available checkpoint versions (ascending) from the
    _last_checkpoint pointer, validated against the filesystem — a
    lost pointer entry only costs a longer delta replay, never
    correctness."""
    try:
        with open(_last_ckpt_file(path)) as fh:
            vs = json.load(fh).get("versions") or []
    except (OSError, ValueError):
        return []
    return sorted(
        int(v) for v in vs if os.path.exists(_ckpt_file(path, int(v)))
    )


def _record_checkpoint(path: str, version: int) -> None:
    """Merge `version` into the _last_checkpoint pointer (temp-file +
    atomic rename; a lost concurrent update drops an entry from the
    list, which only degrades replay length)."""
    f = _last_ckpt_file(path)
    versions: set[int] = set()
    try:
        with open(f) as fh:
            versions = {int(v) for v in json.load(fh).get("versions") or []}
    except (OSError, ValueError):
        pass
    versions.add(int(version))
    tmp = f + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": max(versions), "versions": sorted(versions)}, fh)
    os.replace(tmp, f)


def _latest_version(path: str) -> int | None:
    """Latest committed version. With a checkpoint pointer this is a
    forward PROBE from the newest checkpoint (O(commits since last
    checkpoint) stat calls — versions are contiguous by construction);
    only young tables without a checkpoint fall back to a directory
    listing. At 10^6 commits the listing was the planning bottleneck."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return None
    ckpts = _ckpt_versions(path)
    if ckpts:
        v = ckpts[-1]
        if os.path.exists(os.path.join(mdir, f"v{v}.json")):
            while os.path.exists(os.path.join(mdir, f"v{v + 1}.json")):
                v += 1
            return v
    versions = [
        int(f[1:-5])
        for f in os.listdir(mdir)
        if f.startswith("v") and f.endswith(".json") and f[1:-5].isdigit()
    ]
    return max(versions) if versions else None


def _read_delta(path: str, version: int) -> dict:
    """One raw commit record (delta log segment) — O(that commit's
    change), never O(table). Per-version fields (op, ts, properties,
    rewrote_files, merge_keys, …) live here; only the file LIST needs
    reconstruction."""
    with open(os.path.join(_manifest_dir(path), f"v{version}.json")) as fh:
        return json.load(fh)


def _apply_delta(entries: list, rec: dict) -> list:
    rm = set(rec.get("remove") or ())
    out = (
        [e for e in entries if _entry_rel(e) not in rm] if rm else list(entries)
    )
    out.extend(rec.get("add") or ())
    return out


# Reconstruction caches. Keyed by (abspath, version, stat signature of
# that version's manifest file) — commit records are immutable once
# linked, and the signature changes if a table is recreated at the
# same path. Bounded FIFO; eviction only costs a replay.
_SNAP_CACHE: dict = {}
_CKPT_CACHE: dict = {}
_SNAP_CACHE_MAX = 64


def _rec_sig(path: str, version: int):
    try:
        st = os.stat(os.path.join(_manifest_dir(path), f"v{version}.json"))
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _cache_put(cache: dict, key, val, cap: int | None = None) -> None:
    if len(cache) >= (_SNAP_CACHE_MAX if cap is None else cap):
        cache.pop(next(iter(cache)))
    cache[key] = val


def _load_checkpoint(path: str, version: int) -> list:
    """Checkpoint parquet → entry dicts. Columnar: the driver decodes
    per-entry JSON for the stats/partitions/bloom payloads, but never
    re-parses one table-sized JSON document (the round-5 bottleneck);
    the typed pruning columns are for the Spark planning path and are
    not materialized here."""
    key = (os.path.abspath(path), version)
    st = os.stat(_ckpt_file(path, version))
    sig = (st.st_mtime_ns, st.st_size)
    hit = _CKPT_CACHE.get(key)
    if hit is not None and hit[0] == sig:
        return hit[1]
    import pyarrow.parquet as pq

    t = pq.read_table(
        _ckpt_file(path, version),
        columns=["path", "stats", "partitions", "bloom", "extra"],
    )
    out = []
    for p, stj, ptj, blj, exj in zip(
        t["path"].to_pylist(),
        t["stats"].to_pylist(),
        t["partitions"].to_pylist(),
        t["bloom"].to_pylist(),
        t["extra"].to_pylist(),
    ):
        e: dict = {"path": p}
        if stj is not None:
            e["stats"] = json.loads(stj)
        if ptj is not None:
            e["partitions"] = json.loads(ptj)
        if blj is not None:
            e["bloom"] = json.loads(blj)
        if exj is not None:
            e.update(json.loads(exj))
        out.append(e)
    _cache_put(_CKPT_CACHE, key, (sig, out))
    return out


def _write_checkpoint(path: str, version: int, files: list) -> None:
    """Write the full live-file set at `version` as one parquet file:
    JSON payload columns for faithful entry reconstruction plus TYPED
    `min__<col>` / `max__<col>` / `part__<col>` columns the Spark
    planning path filters on. Temp-file + rename: concurrent writers
    produce identical content, so the race is benign."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(files)
    paths: list = []
    stats_j: list = []
    parts_j: list = []
    bloom_j: list = []
    extra_j: list = []
    smin: dict[str, list] = {}
    smax: dict[str, list] = {}
    pvals: dict[str, list] = {}

    def _col(d: dict, name: str) -> list:
        c = d.get(name)
        if c is None:
            c = d[name] = [None] * n
        return c

    for i, e in enumerate(files):
        if not isinstance(e, dict):
            e = {"path": e}
        paths.append(e["path"])
        st = e.get("stats")
        stats_j.append(None if st is None else json.dumps(st))
        pt = e.get("partitions")
        parts_j.append(None if pt is None else json.dumps(pt))
        bl = e.get("bloom")
        bloom_j.append(None if bl is None else json.dumps(bl))
        ex = {
            k: v
            for k, v in e.items()
            if k not in ("path", "stats", "partitions", "bloom")
        }
        extra_j.append(json.dumps(ex) if ex else None)
        for c, rng in (st or {}).items():
            _col(smin, c)[i] = rng[0]
            _col(smax, c)[i] = rng[1]
        for c, v in (pt or {}).items():
            _col(pvals, c)[i] = v
    cols: dict = {
        "seq": pa.array(range(n), pa.int64()),  # snapshot order: the
        # Spark planning path restores it after an unordered collect
        "path": pa.array(paths, pa.string()),
        "stats": pa.array(stats_j, pa.string()),
        "partitions": pa.array(parts_j, pa.string()),
        "bloom": pa.array(bloom_j, pa.string()),
        "extra": pa.array(extra_j, pa.string()),
    }
    for c in smin:
        try:
            mn, mx = pa.array(smin[c]), pa.array(smax[c])
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            continue  # mixed-type stats: driver-side pruning still has
            # the JSON payload; the Spark path just keeps these files
        cols[f"min__{c}"], cols[f"max__{c}"] = mn, mx
    for c, vals in pvals.items():
        cols[f"part__{c}"] = pa.array(
            [None if v is None else str(v) for v in vals], pa.string()
        )
    tbl = pa.table(cols)
    target = _ckpt_file(path, version)
    tmp = target + f".{uuid.uuid4().hex[:8]}.tmp"
    pq.write_table(tbl, tmp)
    os.replace(tmp, target)
    _record_checkpoint(path, version)


def lake_checkpoint(path: str, version: int | None = None) -> int:
    """Force a checkpoint at `version` (default latest); returns the
    checkpointed version. Normally automatic (every
    LAKE_CHECKPOINT_INTERVAL commits); vacuum calls this to anchor the
    kept history before dropping older delta segments."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    v = latest if version is None else version
    if not os.path.exists(_ckpt_file(path, v)):
        _write_checkpoint(path, v, _read_manifest(path, v)["files"])
    return v


def _files_at(path: str, version: int) -> list:
    """Reconstruct the live-file list at `version`: the cached
    predecessor snapshot + one delta when available (the sequential-
    scan fast path CDF/history iteration hits), else the nearest
    checkpoint ≤ version + ≤ interval delta replays, else replay from
    v0 (young tables)."""
    prev_key = (os.path.abspath(path), version - 1)
    hit = _SNAP_CACHE.get(prev_key)
    if hit is not None and version > 0 and hit[0] == _rec_sig(path, version - 1):
        rec = _read_delta(path, version)
        if "files" in rec:
            return list(rec["files"])
        return _apply_delta(hit[1]["files"], rec)
    base = -1
    for c in _ckpt_versions(path):
        if c <= version:
            base = c
    entries: list = [] if base < 0 else list(_load_checkpoint(path, base))
    for v in range(base + 1, version + 1):
        rec = _read_delta(path, v)
        if "files" in rec:  # legacy/raw full manifest: state resets here
            entries = list(rec["files"])
        else:
            entries = _apply_delta(entries, rec)
    return entries


def _read_manifest(path: str, version: int) -> dict:
    """Full snapshot at `version`, reconstructed: per-version fields
    from the version's own delta record, the file list replayed from
    the nearest checkpoint. Same shape the legacy full manifests had,
    so every consumer (reads, CDF, COW rewrites, the DataSource) is
    agnostic to the log-segment storage."""
    key = (os.path.abspath(path), version)
    sig = _rec_sig(path, version)
    hit = _SNAP_CACHE.get(key)
    if hit is not None and sig is not None and hit[0] == sig:
        snap = dict(hit[1])
        snap["files"] = list(hit[1]["files"])
        return snap
    rec = _read_delta(path, version)
    if "add" not in rec and "remove" not in rec and "files" in rec:
        snap = rec  # legacy full manifest: already the snapshot
    else:
        snap = dict(rec)
        snap.pop("add", None)
        snap.pop("remove", None)
        snap["files"] = _files_at(path, version)
    _cache_put(_SNAP_CACHE, key, (sig, snap))
    out = dict(snap)
    out["files"] = list(snap["files"])
    return out


def _backoff(attempt: int) -> float:
    """Linear backoff with random jitter: concurrent losers of the
    same race must NOT retry in lockstep, or they re-collide on every
    round until the budget runs out."""
    import random

    return 0.01 * (attempt + 1) * (0.5 + random.random())


class _CommitConflict(ConcurrentCommitError):
    """Internal: lost the atomic-link race on ONE version — re-read
    the latest manifest and try again (bounded by
    _MAX_COMMIT_ATTEMPTS)."""


def _commit(path: str, version: int, manifest: dict) -> None:
    """Atomically publish commit `version`. Accepts the full-snapshot
    manifest shape every writer builds ({"files": live list, ...}) and
    stores it as a DELTA record: `add` (entries new vs version-1),
    `remove` (paths dropped), `n_files`, plus the scalar state
    verbatim — so commit BYTES are O(the operation's change), never
    O(table). Publication is temp-write + hard-link: the link fails
    with EEXIST when the version exists (the optimistic lock), and a
    concurrent reader can never observe a partially-written record
    (the O_EXCL+write scheme this replaces had that window). Every
    LAKE_CHECKPOINT_INTERVAL commits the full file list also
    checkpoints to parquet, bounding reconstruction replay."""
    mdir = _manifest_dir(path)
    os.makedirs(mdir, exist_ok=True)
    target = os.path.join(mdir, f"v{version}.json")
    rec = dict(manifest)
    files = rec.pop("files", None)
    if files is not None and "add" not in rec:
        if version > 0:
            prev_paths = set(_paths(_read_manifest(path, version - 1)["files"]))
        else:
            prev_paths = set()
        new_paths = {_entry_rel(e) for e in files}
        rec["add"] = [e for e in files if _entry_rel(e) not in prev_paths]
        rec["remove"] = sorted(prev_paths - new_paths)
        rec["n_files"] = len(files)
    elif files is not None:
        rec["files"] = files  # caller-prepared record: store verbatim
    tmp = target + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(rec, fh, indent=1)
    try:
        os.link(tmp, target)
    except FileExistsError as exc:
        os.remove(tmp)
        raise _CommitConflict(
            f"version {version} already committed at {path}"
        ) from exc
    os.remove(tmp)
    if (
        files is not None
        and version > 0
        and version % LAKE_CHECKPOINT_INTERVAL == 0
    ):
        try:
            _write_checkpoint(path, version, files)
        except Exception:  # pragma: no cover - checkpointing is an
            # optimization; the commit above is already durable and
            # readers fall back to delta replay
            import warnings

            warnings.warn(f"lake checkpoint at v{version} failed", stacklevel=2)


_STATS_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.DateType, T.BooleanType,
)


def _json_safe(v):
    return v if isinstance(v, (int, float, str, bool)) or v is None else str(v)


_STATS_STR_MAX = 64


def _trunc_str_bounds(mn, mx):
    """Iceberg-style string-stat truncation: a documents table must
    not embed whole documents in every manifest entry and checkpoint
    row. The lower bound truncates (a prefix IS a valid lower bound);
    the upper bound truncates then increments its last codepoint so it
    stays >= every value with that prefix — skipping the surrogate
    range JSON cannot encode, carrying left when a codepoint can't
    increment, and falling back to None (= unbounded above, never
    pruned) when nothing can. Pruning stays conservative:
    [trunc_min <= true_min, trunc_max >= true_max]. Returns
    (mn, mx, max_synthesized) — writers record a third `1` element
    only when the MAX was synthesized, so stats-only consumers
    (lake_column_max) refuse exactly the bounds that are not real row
    values (a truncated MIN is still a valid lower bound and the max
    beside it may be exact)."""
    truncated = False
    if isinstance(mn, str) and len(mn) > _STATS_STR_MAX:
        mn = mn[:_STATS_STR_MAX]
    if isinstance(mx, str) and len(mx) > _STATS_STR_MAX:
        p = mx[:_STATS_STR_MAX]
        bumped = None
        for i in range(len(p) - 1, -1, -1):
            nxt = ord(p[i]) + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            if nxt <= 0x10FFFF:
                bumped = p[:i] + chr(nxt)
                break
        mx = bumped
        truncated = True
    return mn, mx, truncated


def _nan_last(v):
    """Sort key ordering NaN above every number, as Spark's min/max do."""
    return (v != v, v)


def _parquet_files(root: str) -> list[str]:
    """Every parquet file under `root`, sorted."""
    return sorted(
        os.path.join(r, f)
        for r, _dirs, names in os.walk(root)
        for f in names
        if f.endswith(".parquet")
    )


def _footer_stats(file: str, cols=()) -> tuple[int, dict]:
    """(row count, {col: [min, max]}) of one written parquet file, read
    from its footer alone — the writer's own bookkeeping, so no commit
    re-scans what it just wrote. Row-group bounds fold to one file
    range (NaN sorts highest, as in Spark); bounds pass through
    _json_safe and _trunc_str_bounds, a synthesized max recorded as a
    third `1`. A column holding only nulls gets [None, None]. A column
    holding values whose footer carries no min/max gets NO bound (the
    file is never pruned on it): parquet-mr omits a string column's
    when min and max together exceed 4 KiB, and the DataSource writer
    omits a float column's when it holds NaN. An unreadable footer
    raises — a commit must never publish a guessed count."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(file)
    want = set(cols)
    idx = {
        md.schema.column(i).path: i
        for i in range(md.num_columns)
        if md.schema.column(i).path in want
    }
    bounds: dict = {c: None for c in idx}
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for c, i in idx.items():
            if c not in bounds:
                continue  # already unbounded
            s = rg.column(i).statistics
            if s is not None and s.has_min_max:
                mn, mx = s.min, s.max
                if bounds[c] is not None:
                    mn = min(bounds[c][0], mn, key=_nan_last)
                    mx = max(bounds[c][1], mx, key=_nan_last)
                bounds[c] = (mn, mx)
            elif s is None or not s.has_null_count or s.null_count < rg.num_rows:
                del bounds[c]
    stats = {}
    for c, b in bounds.items():
        mn, mx, trunc = _trunc_str_bounds(
            *(_json_safe(v) for v in (b or (None, None)))
        )
        stats[c] = [mn, mx, 1] if trunc else [mn, mx]
    return md.num_rows, stats


def _stat_cols(schema: T.StructType, skip=()) -> list[str]:
    """The orderable scalar columns whose per-file min/max the
    manifest records."""
    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, _STATS_TYPES) and f.name not in skip
    ]


def _partition_values(rel: str) -> dict[str, str | None]:
    """Parse `col=val` segments out of a table-relative file path
    (hive layout under data/<commit>/). Values are percent-decoded;
    the hive null dir maps to None."""
    out: dict[str, str | None] = {}
    for seg in rel.split(os.sep)[2:-1]:  # skip data/<commit>/, drop filename
        if "=" in seg:
            col, _, raw = seg.partition("=")
            out[col] = None if raw == _HIVE_NULL else unquote(raw)
    return out


def _spec_info(partition_by: tuple[str, ...]):
    """Parse a partition_by tuple; reject identity/transform mixing
    (identity layouts need dir-value recovery, transform layouts keep
    every real column in the data files — one table uses one read
    path)."""
    specs = [_parse_partition_spec(sp) for sp in partition_by]
    kinds = {k for k, _p, _c, _d in specs}
    if "identity" in kinds and len(kinds) > 1:
        raise ValueError(
            "cannot mix identity and transform partition specs in one table"
        )
    return specs, bool(kinds - {"identity"})


# --- partition-spec EVOLUTION (Iceberg's versioned partition specs) -------
#
# A long-lived 100-TB table eventually re-partitions: the layout that
# was right at 1 TB (say identity on region) is wrong at 100 TB (needs
# day(ts) or bucket(N, key)). Rewriting the table to change it is the
# one thing a 100-TB table can never afford, so the spec is VERSIONED
# instead (Iceberg spec-evolution): the manifest carries
#
#     partition_specs : [spec_0, spec_1, ...]   (append-only history)
#     partition_by    : partition_specs[-1]     (the CURRENT spec —
#                       every write path keeps reading this key, so
#                       the write side is untouched by evolution)
#
# and every file entry written AFTER an evolution carries
# `"spec": <index>`; entries without the key are spec 0 (which also
# makes every pre-evolution manifest, checkpoint, and clone readable
# unchanged). New writes lay out under the current spec; old files
# keep their layout forever; planning prunes each file with ITS OWN
# spec; reads scan each spec population with its own layout rules and
# union them. lake_compact naturally MIGRATES data: rewritten files
# come out under the current spec.
#
# Reference parity note: the reference pipeline has no storage layer
# at all (it re-downloads and rewrites rasters per run); this is part
# of the lakehouse tier that makes the engine usable at scale.


def _partition_specs(m: dict) -> list[tuple[str, ...]]:
    """All partition specs of a manifest, index = spec id. Tables that
    never evolved have exactly one: their partition_by (possibly ())."""
    ps = m.get("partition_specs")
    if ps:
        return [tuple(s) for s in ps]
    return [tuple(m.get("partition_by") or ())]


def _entry_spec_id(entry, n_specs: int) -> int:
    sid = entry.get("spec", 0) if isinstance(entry, dict) else 0
    if sid == 0:
        # spec 0 is the default layout every unstamped entry lives
        # under — valid even when the manifest predates the
        # partition_specs list entirely (n_specs == 0)
        return 0
    if not 0 <= sid < n_specs:
        # A stamped spec id the manifest's partition_specs list does
        # not contain means a corrupted or forward-incompatible
        # manifest; reinterpreting the file under spec 0's layout
        # would silently prune/misread rows — fail loudly instead.
        raise ValueError(
            f"manifest entry references partition spec {sid} but the "
            f"manifest defines only {n_specs} spec(s) — corrupted or "
            "written by a newer format version"
        )
    return sid


def _entry_part_by(entry, specs: list) -> tuple[str, ...]:
    """The spec a FILE was written under (pruning must use the file's
    own layout, never the table's current one). An EMPTY specs list
    (legacy manifests with neither partition_specs nor partition_by)
    means the unpartitioned default layout."""
    sid = _entry_spec_id(entry, len(specs))
    return specs[sid] if specs else ()


def _stamp_spec(files: list, m: dict | None) -> list:
    """Stamp freshly-written entries with the table's current spec id.
    Only needed once the table has evolved — single-spec tables keep
    entries unstamped (= spec 0), so legacy manifests never change."""
    if m and m.get("partition_specs"):
        sid = len(m["partition_specs"]) - 1
        if sid:
            for e in files:
                e["spec"] = sid
    return files


def _write_data_files(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    bloom_cols: tuple[str, ...] = (),
    mapping: dict | None = None,
    optimize_write: bool = False,
) -> tuple[list[dict], int]:
    """Write df's rows as immutable parquet files under a fresh
    commit-scoped subdir; return (manifest entries, rows written), the
    entries [{"path": rel, "stats": {col: [min, max]}, "partitions":
    {...}}]. Per-file column min/max (orderable scalar columns only)
    is the file-skipping index: lake_read prunes files whose range
    provably misses a predicate — Iceberg's manifest-stats design, the
    lever that makes a 100 TB table readable without scanning it.
    Stats and row counts come from each written file's parquet footer
    (_footer_stats), so the write is the only job. A write that
    produced no rows returns no entries and removes its commit dir.
    Partitioned writes additionally record each file's exact
    partition-dir values for identity/transform pruning; transform
    specs (bucket/truncate/day/month/year) partition the LAYOUT on a
    derived dir column while the source column stays in the data."""
    commit_id = uuid.uuid4().hex[:12]
    out = os.path.join(path, "data", commit_id)
    # below this point everything is PHYSICAL space: file columns,
    # stats keys, bloom keys, partition dirs (partition_by/bloom_cols
    # arrive physical from the manifest; callers translate)
    df = _to_physical_df(df, mapping)
    wdf = df
    dir_cols: list[str] = []
    if partition_by:
        specs, has_transform = _spec_info(tuple(partition_by))
        for kind, param, col, dcol in specs:
            dir_cols.append(dcol)
            if kind != "identity":
                wdf = wdf.withColumn(dcol, _transform_column(df, kind, param, col))
    if optimize_write and dir_cols:
        # Delta's optimizeWrite: shuffle rows to their partition dir
        # BEFORE writing, so each dir gets ~one file per commit
        # instead of one per (task × dir) — the N_tasks × N_dirs
        # small-file explosion a 1000-executor daily append has.
        # AQE coalescing sizes the shuffle; skewed dirs still split.
        wdf = wdf.repartition(*[F.col(c) for c in dir_cols])
    w = wdf.write.mode("error")
    if dir_cols:
        w = w.partitionBy(*dir_cols)
    w.parquet(out)
    stat_cols = _stat_cols(df.schema, skip=dir_cols)
    # key everything by TABLE-RELATIVE path, never basename:
    # partitioned writes reuse part-<n>-<uuid> basenames across
    # partition dirs
    footers = {
        os.path.relpath(f, path): _footer_stats(f, stat_cols)
        for f in _parquet_files(out)
    }
    rows = sum(n for n, _st in footers.values())
    if not rows:
        shutil.rmtree(out, ignore_errors=True)
        return [], 0
    bloom_by_file: dict[str, dict] = {}
    if bloom_cols:
        import base64

        spark = df.sparkSession
        for c in bloom_cols:
            if c not in df.columns:
                continue  # schema evolution: entries without the column
                # carry no bloom and are always kept (correctness)
            dt = df.schema[c].dataType
            if not isinstance(
                dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType)
            ):
                raise ValueError(
                    f"bloom column {c!r} must be int/string (cross-engine "
                    "string form)"
                )
            pos_arr = F.array(
                *[
                    F.pmod(
                        F.crc32(
                            F.concat(F.lit(f"{i}|"), F.col(c).cast("string"))
                        ),
                        F.lit(_BLOOM_M),
                    )
                    for i in range(_BLOOM_K)
                ]
            )
            per_file_pos = (
                spark.read.parquet(out)
                .where(F.col(c).isNotNull())
                .select(
                    F.input_file_name().alias("src_file"),
                    F.explode(pos_arr).alias("pos"),
                )
                .distinct()  # bounded: <= m positions per file
                .groupBy("src_file")
                .agg(F.collect_set("pos").alias("ps"))
                .collect()
            )
            for r in per_file_pos:
                relp = os.path.relpath(
                    _fs_path(r["src_file"]), os.path.abspath(path)
                )
                bits = bytearray(_BLOOM_M // 8)
                for pos in r["ps"]:
                    bits[pos >> 3] |= 1 << (pos & 7)
                bloom_by_file.setdefault(relp, {})[c] = {
                    "m": _BLOOM_M,
                    "k": _BLOOM_K,
                    "bits": base64.b64encode(bytes(bits)).decode(),
                }
    entries = []
    for p in sorted(footers):
        e = {"path": p, "stats": footers[p][1]}
        try:  # size drives lake_maintain's small-file policy
            e["bytes"] = os.path.getsize(os.path.join(path, p))
        except OSError:
            pass
        if dir_cols:
            e["partitions"] = _partition_values(p)
        if bloom_cols:
            e["bloom"] = bloom_by_file.get(p, {})
        entries.append(e)
    return entries, rows


#: Reserved column names DV bookkeeping rides on; user tables must
#: not use them (asserted at dv-delete time).
_DV_FILE, _DV_POS = "__dv_file", "__dv_pos"
_DV_SCHEMA = f"{_DV_FILE} string, {_DV_POS} bigint"
_DV_H = "__dv_h"
_DV_K = "__dv_k"

#: DV anti-join keying: 'auto' (default) packs (file, ordinal) into a
#: SINGLE exact 64-bit key when verifiable (see _dv_pack_base — a
#: one-long-key BroadcastHashJoin probes Spark's LongHashedRelation
#: fast path, measured ~10x faster per row than the two-long-key
#: UnsafeHashedRelation probe); 'hash2' forces the unpacked
#: (hash, ordinal) two-column keying; 'decoded' forces the legacy
#: decoded-string keying. Benchmarking and parity tests flip this.
DV_KEYING_CONF = "spark.ndvi_etl.dvKeying"
_DV_KEYING_MODES = ("auto", "hash2", "decoded")


def _dv_keying(spark: SparkSession) -> str:
    """Validated DV_KEYING_CONF value. A typo ('hash', 'packed', ...)
    must ERROR, not silently select some mode — parity/bench runs that
    believe they forced a keying would otherwise measure the wrong
    plan."""
    v = spark.conf.get(DV_KEYING_CONF, "auto")
    if v not in _DV_KEYING_MODES:
        raise ValueError(
            f"{DV_KEYING_CONF}={v!r}: expected one of {_DV_KEYING_MODES}"
        )
    return v

#: Characters a Hadoop/Spark file URI reports verbatim (never
#: percent-encoded): URI unreserved chars plus '/' and the '='
#: sub-delimiter hive partition dirs use. A path outside this set
#: may be encoded differently executor-side than the driver predicts,
#: so hash keying refuses it and the read falls back to the decoded
#: string path.
_DV_SAFE_PATH = re.compile(r"^[A-Za-z0-9/._=~-]+$")
_DV_URI_PREFIX: dict[str, str | None] = {}

#: The DV caches are FIFO-bounded (`_cache_put`). The two entry-set
#: caches (_DV_HASHES, _DV_PACK) are keyed on a snapshot's whole file
#: list, so a long-running writer (a streaming sink commits per batch)
#: would otherwise grow them O(commits x files); they share the
#: snapshot caches' bound. The per-file footer cache is bounded well
#: above any one snapshot's file count so a single read never
#: thrashes it.
_DV_FILE_ROWS_MAX = 1 << 16
_DV_HASHES: dict[tuple, dict | None] = {}


def _dv_raw_hashes(spark: SparkSession, raws: dict[str, str]) -> dict:
    """{entry rel -> Spark's xxhash64 of its predicted raw file path}.
    Spark computes the hash — the SAME expression the table side
    evaluates per row — so there is one hash implementation and no
    driver/executor mismatch to over- or under-delete rows. The
    relation is local, so this collect runs no job."""
    return dict(
        local_df(
            spark, sorted(raws.items()), f"{_DV_FILE} string, __dv_raw string"
        )
        .select(_DV_FILE, F.xxhash64("__dv_raw"))
        .collect()
    )


def _dv_hash_map(spark: SparkSession, path: str, rels: list[str]):
    """{entry rel -> xxhash64 of the RAW `_metadata.file_path` string
    that file will report} for hash-keyed DV anti-joins — or None when
    the fast path cannot be trusted and the read must fall back to the
    decoded-string keying.

    Why: the in-debt DV read's measured dominator at 600 M rows is
    the per-row url_decode/regexp normalization chain of
    `_dv_meta_cols` (4.5x a plain scan;
    `xxhash64(_metadata.file_path)` on the raw string is +6%). So the
    table side hashes the RAW path — no decode, no string join — and
    the driver predicts each file's raw form as `prefix + abspath`,
    where the constant scheme prefix is PROBED once per table root
    with a one-row scan (raw must end with the probe file's absolute
    path; anything else → None). Guards:

    - every entry path must be in `_DV_SAFE_PATH` (chars a file URI
      reports verbatim), so prefix+abspath is exact for ALL files,
      not just the probed one;
    - the hashes must be collision-free across the entry set, checked
      on the driver over the collected map (cached per entry set; a
      64-bit collision would over-delete rows of an unrelated file).

    A probe that raises or finds no row is not cached: that read falls
    back, and the next one probes again.
    """
    if _dv_keying(spark) == "decoded":
        return None
    root = os.path.abspath(path)
    abss = [r if os.path.isabs(r) else os.path.join(root, r) for r in rels]
    if not all(_DV_SAFE_PATH.match(a) for a in abss):
        return None
    if root not in _DV_URI_PREFIX:
        probe = abss[0]
        try:
            row = (
                spark.read.parquet(probe)
                .select(F.col("_metadata.file_path"))
                .limit(1)
                .collect()
            )
        except Exception:
            return None
        if not row:
            return None
        raw = row[0][0]
        _DV_URI_PREFIX[root] = (
            raw[: len(raw) - len(probe)] if raw.endswith(probe) else None
        )
    pref = _DV_URI_PREFIX[root]
    if pref is None:
        return None
    # key on the rels tuple ITSELF (not its Python hash): a hash
    # collision between two rel sets would silently serve the wrong
    # answer — here over/under-deleting rows (round-9 ADVICE)
    key = (root, tuple(rels))
    if key in _DV_HASHES:
        return _DV_HASHES[key]
    hashes = _dv_raw_hashes(spark, {r: pref + a for r, a in zip(rels, abss)})
    if len(set(hashes.values())) != len(hashes):
        hashes = None
    _cache_put(_DV_HASHES, key, hashes)
    return hashes


_DV_PACK: dict[tuple, tuple | None] = {}
#: num_rows per ABSOLUTE file path, from the parquet footer. Files in
#: a committed snapshot are immutable, so an entry never invalidates;
#: an unreadable footer is not cached (the next read retries it).
#: Caching per FILE (not per entry subset) means distinct pruned
#: subsets of one table share the footer walk instead of re-reading
#: shared files.
_DV_FILE_ROWS: dict[str, int] = {}


def _dv_posbits(path: str, rels: list[str]) -> int | None:
    """Bits needed to hold any row ordinal of any entry file: max over
    files of bit_length(num_rows - 1), from parquet footer metadata
    alone (O(#files) driver work, footer reads cached per file). None
    when a footer is unreadable — packing is then unavailable for
    this read and it keys on the two-column form."""
    root = os.path.abspath(path)
    import pyarrow.parquet as pq

    mx = 1
    for r in rels:
        p = r if os.path.isabs(r) else os.path.join(root, r)
        n = _DV_FILE_ROWS.get(p)
        if n is None:
            try:
                n = pq.ParquetFile(p).metadata.num_rows
            except Exception:
                return None
            _cache_put(_DV_FILE_ROWS, p, n, _DV_FILE_ROWS_MAX)
        mx = max(mx, n)
    return max((mx - 1).bit_length(), 1)


def _dv_pack_base(
    spark: SparkSession, path: str, rels: list[str], hashes: dict
):
    """(posbits, hash mask, {entry rel -> packed base}) for the
    SINGLE-long exact DV key, or None when packing cannot be verified.
    `hashes` is `_dv_hash_map`'s verified {rel -> xxhash64} map.

    Why: a BroadcastHashJoin whose key is ONE long probes Spark's
    LongHashedRelation (primitive open-addressing map); two long keys
    force the UnsafeHashedRelation path — per probe an UnsafeRow
    projection plus byte-wise hash/compare — measured ~10x slower per
    row on a 60 M-row anti-join (0.52 s vs 7.7 s
    on identical range inputs). So the (file, ordinal) pair is
    packed losslessly into one 64-bit key:

        key = (xxhash64(raw file path) & mask) << posbits | ordinal

    with posbits sized from footer metadata so every ordinal fits
    (_dv_posbits) and mask = (1 << (63 - posbits)) - 1. Exactness is
    VERIFIED, not assumed: the driver checks the truncated hashes are
    pairwise distinct across the COMPLETE entry set — the only file
    universe a scan or DV can mention — so key equality is equivalent
    to (file, ordinal) equality; any failure (footer unreadable,
    truncation collision, ordinal width leaving no hash bits) returns
    None and the read falls back to the two-column keying. Top bit is
    always 0 (posbits + hashbits = 63), so the packed key is
    non-negative and overflow-free. An unreadable footer is not
    cached, so a later read packs once the footer reads."""
    if _dv_keying(spark) != "auto":
        return None
    root = os.path.abspath(path)
    key = (root, tuple(rels))
    if key in _DV_PACK:
        return _DV_PACK[key]
    posbits = _dv_posbits(path, rels)
    if posbits is None:
        return None
    out = None
    if posbits < 63:
        mask = (1 << (63 - posbits)) - 1
        # python & on a negative (two's-complement) long equals the
        # JVM's bigint AND for a non-negative mask — same bit pattern
        bases = {r: (h & mask) << posbits for r, h in hashes.items()}
        if len(set(bases.values())) == len(bases):
            out = (posbits, mask, bases)
    _cache_put(_DV_PACK, key, out)
    return out

#: Above this many live deletion-vector rows the read path stops
#: HINTING a broadcast for the anti-join (a (path, ordinal) row is
#: ~100 B serialized; 1M rows ≈ 100 MB to every task) and lets the
#: planner shuffle instead — the regime between "a few deletes" and
#: "compaction materialized them".
_DV_BROADCAST_MAX_ROWS = 1_000_000

#: Between the string-keyed broadcast bound above and THIS many DV
#: rows, the anti-join build side is re-keyed to a compact
#: (int file-id, long ordinal) pair (~16 B serialized vs ~100 B for a
#: path string) and STILL broadcast — 16M keys is a few hundred MB of
#: build relation, inside any 100-TB-class executor — because the
#: alternative shuffles the ENTIRE table by (fid, pos) (measured at
#: 600M rows: +33% wall over the broadcast probe, and on a real
#: cluster that shuffle is network, not memory bandwidth). Past this
#: bound the planner shuffles: a 60M-key broadcast was measured to
#: exhaust task execution memory in a 40 GB JVM, and
#: lake_maintain's max_dv_rows drain compacts long before that.
_DV_FID_BROADCAST_MAX_ROWS = 16_000_000


def _dv_rows(path: str, dvs) -> int:
    """Total row count across DV parquet sets from footer metadata
    alone — O(#dv files) driver work, no data read."""
    try:
        return sum(_dir_rows(os.path.join(path, d)) for d in dvs)
    except Exception:
        # doubt: the set's true size is UNKNOWN and may be huge, so
        # the sentinel must disable BOTH broadcast tiers (a
        # _DV_BROADCAST_MAX_ROWS+1 sentinel sat under the fid tier's
        # threshold and force-broadcast unknown-size sets)
        return _DV_FID_BROADCAST_MAX_ROWS + 1


def _dir_rows(root: str) -> int:
    """Exact row count of the parquet files under `root`, from their
    footers (raises on an unreadable one, unlike _dv_rows' planning
    sentinel)."""
    return sum(_footer_stats(f)[0] for f in _parquet_files(root))


def _dv_meta_cols(path: str):
    """(decoded file path in ENTRY form, row ordinal) Columns from
    the parquet scan's hidden _metadata struct — the executor-side
    twin of _fs_path: file_path arrives percent-encoded ('+' is NOT
    form-encoded by Hadoop, so pre-escape it before url_decode treats
    it as a space). Entry form = table-relative for files under the
    table root, the absolute path otherwise (shallow-CLONE entries
    reference the source table's files by absolute path — both sides
    of every DV/hit-file comparison use the same form)."""
    fp = F.col("_metadata.file_path")
    decoded = F.url_decode(F.regexp_replace(fp, r"\+", "%2B"))
    no_scheme = F.regexp_replace(decoded, "^file:(//)?", "")
    prefix = os.path.abspath(path) + os.sep
    rel = F.when(
        F.substring(no_scheme, 1, len(prefix)) == F.lit(prefix),
        F.substring(no_scheme, len(prefix) + 1, 1 << 30),
    ).otherwise(no_scheme)
    return rel, F.col("_metadata.row_index")


def _read_entries(
    spark: SparkSession, path: str, manifest: dict, entries,
    keep_meta: bool = False,
    apply_dvs: bool = True,
) -> DataFrame:
    """Read a subset of a snapshot's file entries under the manifest
    schema. Partitioned tables need the partition columns recovered
    from the hive dir names, which Spark does per basePath — one
    basePath-scoped scan per commit dir, unioned by name (commit
    count is manifest-scale).

    When the snapshot carries DELETION VECTORS (merge-on-read
    lake_delete), the deleted (file, row-ordinal) pairs are removed
    here — ONE broadcast anti-join, so every consumer (reads, COW
    rewrites, compaction) sees the same visible rows. The DV relation
    is bounded by deletes-since-last-compaction: compaction
    materializes DVs into clean files and clears them.
    `keep_meta=True` additionally exposes the ({_DV_FILE}, {_DV_POS})
    columns of each VISIBLE row — how dv-delete addresses the rows it
    removes.

    Column-mapped tables (rename/drop evolution) scan under PHYSICAL
    names — the names the files were written with, stable across
    renames — and alias back to the snapshot's logical names as the
    final projection; a dropped column's physical name simply leaves
    the scan schema (old files keep the bytes, nobody reads them).
    Files written under a NARROWER type than the manifest's (type
    widening) upcast inside the parquet reader."""
    log_schema = T.StructType.fromJson(manifest["schema"])
    phys = _mapping_physical(manifest)
    schema = (
        T.StructType(
            [
                T.StructField(phys.get(f.name, f.name), f.dataType, f.nullable)
                for f in log_schema.fields
            ]
        )
        if phys
        else log_schema
    )
    dvs = (manifest.get("dvs") or []) if apply_dvs else []
    want_meta = keep_meta or bool(dvs)
    if not entries:
        out = local_df(spark, [], log_schema)
        if keep_meta:
            out = out.withColumn(_DV_FILE, F.lit(None).cast("string"))
            out = out.withColumn(_DV_POS, F.lit(None).cast("bigint"))
        return out
    # hash-keyed DV anti-join (the fast path: raw-path xxhash64 per
    # row, zero per-row string decode) — decided up front because the
    # scans must attach the hash column; None → decoded-string keying
    dv_hash = None
    dv_pack = None
    rels = sorted({_entry_rel(e) for e in entries})
    if dvs:
        dv_hash = _dv_hash_map(spark, path, rels)
        if dv_hash is not None:
            dv_pack = _dv_pack_base(spark, path, rels, dv_hash)

    def _scan(paths: list[str], base: str | None = None) -> DataFrame:
        r = spark.read.schema(schema)
        if base is not None:
            r = r.option("basePath", base)
        df = r.parquet(*paths)
        if want_meta:
            rel, pos = _dv_meta_cols(path)
            # _metadata is only addressable ON the scan relation —
            # attach before any union. The decoded rel column only
            # exists when something will consume it (keep_meta
            # callers, or the decoded-keying fallback): its
            # url_decode/regexp chain is the measured per-row
            # dominator of the in-debt read (4.5x a plain scan)
            extra = []
            if keep_meta or dv_hash is None:
                extra.append(rel.alias(_DV_FILE))
            if dv_pack is not None:
                # packed single-long exact key (_dv_pack_base): the
                # ordinal rides INSIDE the key, so the separate pos
                # column is only materialized for keep_meta consumers
                posbits, mask, _bases = dv_pack
                extra.append(
                    F.shiftleft(
                        F.xxhash64(
                            F.col("_metadata.file_path")
                        ).bitwiseAND(F.lit(mask)),
                        posbits,
                    )
                    .bitwiseOR(pos)
                    .alias(_DV_K)
                )
            elif dv_hash is not None:
                extra.append(
                    F.xxhash64(F.col("_metadata.file_path")).alias(_DV_H)
                )
            if keep_meta or dv_pack is None:
                extra.append(pos.alias(_DV_POS))
            df = df.select("*", *extra)
        return df

    specs = _partition_specs(manifest)
    # spec evolution: each file reads under the spec it was WRITTEN
    # under (identity populations recover partition values from dir
    # names; transform/unpartitioned populations are plain scans) —
    # one sub-scan per population, unioned. Single-spec tables (the
    # overwhelmingly common case) take exactly the pre-evolution path.
    by_spec: dict[int, list] = {}
    for e in entries:
        by_spec.setdefault(_entry_spec_id(e, len(specs)), []).append(e)
    scans: list[DataFrame] = []
    for sid in sorted(by_spec):
        part_by = specs[sid]
        pop = by_spec[sid]
        identity_layout = part_by and all(
            _parse_partition_spec(sp)[0] == "identity" for sp in part_by
        )
        if not identity_layout:
            # unpartitioned OR transform-partitioned: every real column
            # lives inside the data files (transforms partition on
            # derived dir columns) — a plain schema-pinned scan suffices
            scans.append(_scan([os.path.join(path, p) for p in _paths(pop)]))
            continue
        groups: dict[str, list[str]] = {}
        for p in _paths(pop):
            # basePath = the commit dir above the partition dirs:
            # strip filename + one dir per partition column (works for
            # table-relative AND absolute shallow-clone entries)
            full = os.path.join(path, p)  # join keeps absolute p as-is
            base = full
            for _ in range(1 + len(part_by)):
                base = os.path.dirname(base)
            groups.setdefault(base, []).append(full)
        scans.extend(
            _scan(files, base) for base, files in sorted(groups.items())
        )
    out = scans[0]
    for d in scans[1:]:
        out = out.unionByName(d)
    if dvs:
        dv_df = spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(path, d) for d in dvs]
        )
        n_dv = _dv_rows(path, dvs)  # one driver-side footer walk, both tiers
        if dv_pack is not None:
            # Packed regime (default): ONE exact long key per side —
            # the anti-join probes the LongHashedRelation fast path
            # (measured ~10x the two-long-key probe). The
            # build side maps DV rel strings to verified packed bases
            # through a broadcast manifest-scale map and ORs in the
            # ordinal; the table side packed at the scan.
            posbits, mask, bases = dv_pack
            base_df = local_df(
                spark,
                sorted(bases.items()),
                f"{_DV_FILE} string, __dv_base bigint",
            )
            dv_keys = dv_df.join(F.broadcast(base_df), [_DV_FILE]).select(
                F.col("__dv_base").bitwiseOR(F.col(_DV_POS)).alias(_DV_K)
            )
            if n_dv <= _DV_FID_BROADCAST_MAX_ROWS:
                dv_keys = F.broadcast(dv_keys)
            out = out.join(dv_keys, [_DV_K], "left_anti")
        elif dv_hash is not None:
            # Hash regime (default): both sides key on (xxhash64 of
            # the raw file path, row ordinal) — 16 B keys, no per-row
            # decode anywhere, ONE anti-join. The build side maps the
            # DV set's rel strings to hashes through the broadcast
            # manifest-scale map; the table side computed its hash at
            # the scan. Broadcastable up to the compact-key bound;
            # past it the anti-join sheds the hint and shuffles
            # (lake_maintain's max_dv_rows drain compacts long
            # before).
            hash_df = local_df(
                spark,
                sorted(dv_hash.items()),
                f"{_DV_FILE} string, {_DV_H} bigint",
            )
            dv_keys = dv_df.join(F.broadcast(hash_df), [_DV_FILE]).select(
                _DV_H, _DV_POS
            )
            if n_dv <= _DV_FID_BROADCAST_MAX_ROWS:
                dv_keys = F.broadcast(dv_keys)
            out = out.join(dv_keys, [_DV_H, _DV_POS], "left_anti")
        elif n_dv <= _DV_BROADCAST_MAX_ROWS:
            out = out.join(
                F.broadcast(dv_df), [_DV_FILE, _DV_POS], "left_anti"
            )
        else:
            # Bulk-delete regime: table-scale DV sets. A string-keyed
            # broadcast would ship ~100 B of file path per key to
            # every task (measured 53× a plain filter at sf10), so
            # both sides re-key to a manifest-scale integer id (one
            # broadcast dict of #files entries) and the anti-join
            # keys drop to (int, long) ≈ 16 B. Up to
            # _DV_FID_BROADCAST_MAX_ROWS the compact build side is
            # STILL broadcast — the table side never moves, which at
            # 100 TB is the whole game (measured at 600M rows / 60M
            # DV keys: the shuffled form pays 98 s of table shuffle;
            # the broadcast probe stays at scan speed). Beyond it the
            # planner shuffles; lake_maintain's max_dv_rows drain
            # compacts long before that.
            fid = "__dv_fid"
            id_df = local_df(
                spark,
                [(r, i) for i, r in enumerate(rels)],
                f"{_DV_FILE} string, {fid} int",
            )
            dv_keys = dv_df.join(
                F.broadcast(id_df), [_DV_FILE], "inner"
            ).select(fid, _DV_POS)
            if n_dv <= _DV_FID_BROADCAST_MAX_ROWS:
                dv_keys = F.broadcast(dv_keys)
            out = (
                out.join(F.broadcast(id_df), [_DV_FILE], "left")
                .join(dv_keys, [fid, _DV_POS], "left_anti")
                .drop(fid)
            )
    if want_meta and not keep_meta:
        out = out.drop(_DV_FILE, _DV_POS)
    out = out.drop(_DV_H, _DV_K)  # join-key only, never a consumer surface
    if phys:
        cols = [
            F.col(phys.get(f.name, f.name)).alias(f.name)
            for f in log_schema.fields
        ]
        if keep_meta:
            cols += [F.col(_DV_FILE), F.col(_DV_POS)]
        out = out.select(*cols)
    return out


# --- schema evolution: column mapping + type widening ---------------------
#
# RENAME and DROP are metadata-only commits via ID-BASED COLUMN
# MAPPING (Delta's columnMapping=name mode / Iceberg field-ids): each
# logical column owns a stable PHYSICAL name that data files, stats,
# blooms, and partition layouts key on forever. A rename changes only
# the logical name; a drop removes the logical binding (old files
# still carry the bytes — vacuumed with their snapshots); re-adding a
# dropped name allocates a FRESH physical name (`col-<id>`), so old
# bytes can never resurrect under a new column. Everything below the
# API boundary — _write_data_files, the manifest entries, pruning —
# lives in PHYSICAL space; _read_entries renames back to logical as
# its last step, and predicates translate via _phys_where.
#
# Type WIDENING (byte→short→int→long, float→double, int-family→double
# — the lossless promotions Delta's type-widening feature allows)
# changes only the manifest schema: Spark 4's parquet reader upcasts
# narrow file columns to the wider read schema natively, so no file
# is rewritten. A write whose column is NARROWER than the table's
# upcasts the incoming rows; a write that would LOSE information
# (long→int, double→float) is refused.

_INT_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3}


def _widened(a: T.DataType, b: T.DataType):
    """The wider of two types when the promotion between them is
    lossless, else None. Equal types return themselves."""
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _INT_RANK and bn in _INT_RANK:
        return a if _INT_RANK[an] >= _INT_RANK[bn] else b
    if {an, bn} == {"float", "double"}:
        return T.DoubleType()
    # int-family → double is exact up to 2^53: allow below long
    if an == "double" and bn in ("byte", "short", "integer"):
        return a
    if bn == "double" and an in ("byte", "short", "integer"):
        return b
    return None


def _mapping_physical(manifest_or_mapping) -> dict[str, str]:
    """logical name → physical name (identity when mapping is off)."""
    cm = (
        manifest_or_mapping.get("column_mapping")
        if "column_mapping" in manifest_or_mapping or "schema" in manifest_or_mapping
        else manifest_or_mapping
    )
    if not cm:
        return {}
    return {c["name"]: c["physical"] for c in cm["cols"]}


def _phys_where(where, manifest: dict):
    """Translate predicate column names logical → physical before any
    manifest pruning (stats/partitions/blooms are keyed physical)."""
    if not where:
        return where
    p = _mapping_physical(manifest)
    if not p:
        return where
    return [(p.get(c, c), op, v) for c, op, v in where]


def _to_physical_df(df: DataFrame, mapping: dict | None) -> DataFrame:
    if not mapping:
        return df
    p = _mapping_physical({"column_mapping": mapping})
    renames = {c: p[c] for c in df.columns if c in p and p[c] != c}
    return df.withColumnsRenamed(renames) if renames else df


def _ensure_mapping(m: dict) -> dict:
    """The table's column mapping, materializing the identity mapping
    (physical = current logical) on first use — existing data files
    already carry these names, so enabling mapping rewrites nothing."""
    cm = m.get("column_mapping")
    if cm:
        return {"max_id": cm["max_id"], "cols": [dict(c) for c in cm["cols"]]}
    fields = T.StructType.fromJson(m["schema"]).fields
    return {
        "max_id": len(fields),
        "cols": [
            {"id": i + 1, "name": f.name, "physical": f.name}
            for i, f in enumerate(fields)
        ],
    }


def _extend_mapping(cm: dict, new_names: list[str]) -> dict:
    """Allocate fresh physical names for columns a write ADDS to a
    mapped table (col-<id> — never a reused name)."""
    cm = {"max_id": cm["max_id"], "cols": [dict(c) for c in cm["cols"]]}
    for name in new_names:
        cm["max_id"] += 1
        cm["cols"].append(
            {"id": cm["max_id"], "name": name, "physical": f"col-{cm['max_id']}"}
        )
    return cm


def _enforce_constraints(df: DataFrame, schema: T.StructType | None, cons: dict) -> None:
    """Refuse a write whose rows violate the table's constraints.
    NOT NULL rejects nulls (including a column the write omits
    entirely — it would read as NULL); CHECK follows SQL semantics
    (violated only when the expression is FALSE; UNKNOWN passes).
    Costs one filtered count over the rows being written — the price
    Delta pays for enforced constraints too."""
    if not cons:
        return
    vdf = df
    if schema is not None:
        for f in schema.fields:
            if f.name not in df.columns:
                vdf = vdf.withColumn(f.name, F.lit(None).cast(f.dataType))
    viol = F.lit(False)
    for c in cons.get("not_null") or []:
        viol = viol | F.col(c).isNull()
    for name, expr in (cons.get("checks") or {}).items():
        viol = viol | ~F.coalesce(F.expr(expr), F.lit(True))
    n = vdf.filter(viol).count()
    if n:
        raise ValueError(
            f"{n} row(s) violate table constraints "
            f"(not_null={cons.get('not_null') or []}, "
            f"checks={sorted((cons.get('checks') or {}))})"
        )


def _schema_compatible(old: T.StructType, new: T.StructType) -> bool:
    by_name = {f.name: f.dataType for f in old.fields}
    return all(
        f.name not in by_name or f.dataType == by_name[f.name] for f in new.fields
    )


def _evolve_schema(old: T.StructType, new: T.StructType):
    """Merge an incoming write's schema into the table's: equal types
    pass, ADDED columns append, lossless WIDENING promotes the table
    type (old files upcast on read), a wider incoming value than the
    table type upcasts the INCOMING rows instead. Returns (merged
    schema, {col: type} casts to apply to the incoming DataFrame);
    raises for anything lossy."""
    old_names = {f.name for f in old.fields}
    by_new = {f.name: f for f in new.fields}
    out_fields: list[T.StructField] = []
    casts: dict[str, T.DataType] = {}
    for f in old.fields:
        nf = by_new.get(f.name)
        if nf is None:
            out_fields.append(f)
            continue
        w = _widened(f.dataType, nf.dataType)
        if w is None:
            raise ValueError(
                f"column {f.name!r}: cannot change type "
                f"{f.dataType.simpleString()} → {nf.dataType.simpleString()} "
                "— only lossless widening is allowed (rewrite via overwrite)"
            )
        out_fields.append(T.StructField(f.name, w, f.nullable or nf.nullable))
        if w != nf.dataType:
            casts[f.name] = w
    out_fields += [f for f in new.fields if f.name not in old_names]
    return T.StructType(out_fields), casts


def lake_write(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] | None = None,
    bloom_cols: tuple[str, ...] | None = None,
    properties: dict | None = None,
    optimize_write: bool = False,
) -> int:
    """Append or overwrite as ONE atomic snapshot commit; returns the
    new version. Appends may ADD columns (schema evolution by union —
    old files simply lack the column and read as NULL); changing an
    existing column's type is rejected. `partition_by` lays files out
    hive-style and records partition values for exact pruning;
    `bloom_cols` records a per-file Bloom filter for point-lookup
    skipping on int/string key columns; omit either on append to
    inherit the table's existing settings. `optimize_write=True`
    shuffles rows to their partition dir before writing (Delta's
    optimizeWrite) so each dir gets ~one file per commit instead of
    one per (task × dir) — the small-file lever for wide-cluster
    appends into many partitions; leave off when the input is already
    dir-aligned or unpartitioned.

    Losing the commit race to a concurrent writer retries
    automatically: the data files are already written and immutable,
    and append vs append is always file-disjoint, so the retry only
    re-reads the winner's manifest, re-merges the live-file list, and
    re-publishes at the next version — no data is rewritten (Delta's
    optimistic-append resolution)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    latest = _latest_version(path)
    prev = _read_manifest(path, latest) if latest is not None else None
    prev_part = tuple(prev.get("partition_by") or ()) if prev else ()
    if partition_by is None:
        part_by = prev_part if (prev is not None and mode == "append") else ()
    else:
        part_by = tuple(partition_by)
        if prev is not None and mode == "append" and part_by != prev_part:
            raise ValueError(
                f"append partition_by {part_by} != table layout {prev_part}"
            )
    prev_bloom = tuple(prev.get("bloom_cols") or ()) if prev else ()
    if bloom_cols is None:
        bl_cols = prev_bloom if (prev is not None and mode == "append") else ()
    else:
        bl_cols = tuple(bloom_cols)
    mapping = None
    staged_base_mapping = None
    if prev is not None and mode == "append":
        old_schema = T.StructType.fromJson(prev["schema"])
        _merged0, casts = _evolve_schema(old_schema, df.schema)
        if casts:
            # incoming column narrower than the table's widened type:
            # upcast the rows being written (lossless by construction)
            df = df.withColumns(
                {c: F.col(c).cast(t) for c, t in casts.items()}
            )
        staged_base_mapping = prev.get("column_mapping")
        if staged_base_mapping:
            added = [
                f.name
                for f in df.schema.fields
                if f.name not in old_schema.fieldNames()
            ]
            mapping = _extend_mapping(_ensure_mapping(prev), added)
    enforced_cons = prev.get("constraints") if prev is not None else None
    if enforced_cons:
        # constraints are table properties: they survive overwrite
        # (drop them explicitly via lake_alter_constraints)
        _enforce_constraints(
            df, T.StructType.fromJson(prev["schema"]), enforced_cons
        )
    files, n_rows = _write_data_files(
        df, path, part_by, bl_cols, mapping, optimize_write=optimize_write
    )
    if mode == "append":
        # evolved table: new entries carry the current spec id (a
        # concurrent spec change makes the retry loop below raise, so
        # the id staged here can never publish stale)
        _stamp_spec(files, prev)
    staged_specs = (prev or {}).get("partition_specs")
    for attempt in range(_MAX_COMMIT_ATTEMPTS):
        latest = _latest_version(path)
        prev = _read_manifest(path, latest) if latest is not None else None
        cur_cons = prev.get("constraints") if prev is not None else None
        if cur_cons and cur_cons != enforced_cons:
            # a concurrent ALTER added/changed constraints after our
            # pre-write check: re-validate against the WINNER's rules
            # before publishing (the alter-vs-write conflict Delta
            # resolves the same way) — the data files are already
            # staged, only the validation re-runs
            _enforce_constraints(
                df, T.StructType.fromJson(prev["schema"]), cur_cons
            )
            enforced_cons = cur_cons
        if prev is not None and mode == "append":
            old_schema = T.StructType.fromJson(prev["schema"])
            merged, _casts = _evolve_schema(old_schema, df.schema)
            # a concurrent widen is harmless (our narrower staged
            # files upcast on read); a concurrent MAPPING change is
            # not — our files were staged under the mapping we saw
            if (prev.get("column_mapping") or None) != (
                staged_base_mapping or None
            ):
                raise ValueError(
                    "concurrent writer changed the table's column "
                    "mapping — re-run the write"
                )
            if tuple(prev.get("partition_by") or ()) != part_by or (
                prev.get("partition_specs") != staged_specs
            ):
                raise ValueError(
                    "concurrent writer changed the table's partition layout"
                )
            live = prev["files"] + files
            dvs = list(prev.get("dvs") or [])
        else:
            merged = df.schema
            live = files
            dvs = []
        version = 0 if latest is None else latest + 1
        manifest = {
            "version": version,
            "op": mode,
            "ts": time.time(),
            "files": live,
            "schema": merged.jsonValue(),
            "n_rows_delta": n_rows,
        }
        if dvs:
            manifest["dvs"] = dvs
        if properties:
            # commit properties (Delta's userMetadata): application
            # metadata a consumer stamps on its own commits — e.g.
            # the incremental-curation cursor, recoverable from the
            # manifest log alone
            manifest["properties"] = dict(properties)
        if prev is not None and prev.get("constraints"):
            manifest["constraints"] = prev["constraints"]
        if part_by:
            manifest["partition_by"] = list(part_by)
        if mode == "append" and prev is not None and prev.get("partition_specs"):
            # spec evolution history survives appends; an overwrite
            # replaces every file, so the layout history resets
            manifest["partition_specs"] = prev["partition_specs"]
        if bl_cols:
            manifest["bloom_cols"] = list(bl_cols)
        if mapping and mode == "append":
            manifest["column_mapping"] = mapping
        try:
            _commit(path, version, manifest)
            return version
        except _CommitConflict:
            time.sleep(_backoff(attempt))
    raise ConcurrentCommitError(
        f"lost the commit race {_MAX_COMMIT_ATTEMPTS} times at {path}"
    )


def _ckpt_prune_expr(schema, col: str, op: str, val, part_by: tuple):
    """Conservative "this file provably cannot match (col, op, val)"
    Column over a checkpoint scan's typed pruning columns, or None
    when nothing prunable is available. CONSERVATIVE is the contract:
    any doubt (null stats, cast failure, NaN bound, type-family
    mismatch) must evaluate false/null (the caller coalesces to
    "keep") — the driver re-applies _file_may_match exactly on the
    survivors, so the Spark pass only ever has to be a superset."""
    import functools as ft

    names = {f.name: f.dataType for f in schema.fields}
    exprs = []
    # the scalar(s) a type-family check must hold for: every element of
    # an `in` list, the value itself otherwise (an `in` val is a LIST —
    # gating on scalar isinstance(val) made the in-branches below dead
    # and the flagship point-lookup shape collected the whole
    # checkpoint to the driver)
    probe = (
        list(val)
        if op == "in" and isinstance(val, (list, tuple, set, frozenset))
        else [val]
    )
    scalars_ok = bool(probe) and all(
        isinstance(v, (int, float, str, bool)) for v in probe
    )
    mn_name, mx_name = f"min__{col}", f"max__{col}"
    if mn_name in names and scalars_ok:
        dt = names[mn_name]
        numeric = isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                 T.FloatType, T.DoubleType),
        )

        def _fam(v) -> bool:
            return (
                (isinstance(v, bool) and isinstance(dt, T.BooleanType))
                or (
                    not isinstance(v, bool)
                    and isinstance(v, (int, float))
                    and numeric
                )
                or (isinstance(v, str) and isinstance(dt, T.StringType))
            )

        family_ok = all(_fam(v) for v in probe)
        if family_ok:
            mn, mx = F.col(mn_name), F.col(mx_name)

            def rng(o, v):
                if o in ("==", "="):
                    return (mn > v) | (mx < v)
                if o == ">=":
                    return mx < v
                if o == ">":
                    return mx <= v
                if o == "<=":
                    return mn > v
                return mn >= v  # "<"

            if op == "in":
                e = ft.reduce(lambda a, b: a & b, [rng("==", v) for v in probe])
            else:
                e = rng(op, val)
            if e is not None:
                if isinstance(dt, (T.FloatType, T.DoubleType)):
                    e = e & ~F.isnan(mn) & ~F.isnan(mx)  # NaN proves nothing
                exprs.append(e)
    # identity partition value (exact; driver casts the stored string
    # to the predicate type — try_cast mirrors "cast doubt keeps").
    # part_by=None: multi-spec table — part__ NULLs are ambiguous
    # (missing vs null value), so partition branches are disabled
    pname = f"part__{col}"
    if part_by is not None and pname in names and scalars_ok:
        raw = F.col(pname)
        p0 = probe[0]
        if isinstance(p0, bool):
            typed = raw.try_cast("boolean")
        elif isinstance(p0, int):
            typed = raw.try_cast("long")
        elif isinstance(p0, float):
            typed = raw.try_cast("double")
        else:
            typed = raw
        if op == "in":
            match = ft.reduce(
                lambda a, b: a | b, [typed == v for v in probe], F.lit(False)
            )
        else:
            match = _OPS[op](typed, val)
        exprs.append(
            F.when(raw.isNull(), F.lit(True))  # NULL matches no predicate
            .when(typed.isNull(), F.lit(False))  # cast doubt keeps
            .otherwise(~match)
        )
    # hidden-partition transforms: the transformed predicate VALUE is a
    # Python-side constant; the comparison runs on the stored dir value
    for sp in part_by or ():
        kind, param, src, dcol = _parse_partition_spec(sp)
        dname = f"part__{dcol}"
        if kind == "identity" or src != col or dname not in names:
            continue
        raw = F.col(dname)
        if op == "in":
            tv = [_transform_value(kind, param, v) for v in val]
            if any(t is None for t in tv):
                continue
            typed = raw.try_cast("long") if all(
                isinstance(t, int) for t in tv
            ) else raw
            match = ft.reduce(
                lambda a, b: a | b, [typed == t for t in tv], F.lit(False)
            )
        else:
            t = _transform_value(kind, param, val)
            if t is None:
                continue
            typed = raw.try_cast("long") if isinstance(t, int) else raw
            if op in ("==", "="):
                match = typed == t
            elif kind == "bucket":
                continue  # hash buckets carry no order
            else:
                # order-preserving transform: keep the boundary unit
                # (truncation loses the sub-unit offset)
                o = op + "=" if op in (">", "<") else op
                match = _OPS[o](typed, t)
        exprs.append(
            F.when(raw.isNull(), F.lit(True))
            .when(typed.isNull(), F.lit(False))
            .otherwise(~match)
        )
    if not exprs:
        return None
    out = exprs[0]
    for e in exprs[1:]:
        out = out | F.coalesce(e, F.lit(False))
    return out


#: Above this many removed paths in the checkpoint→version window, the
#: Spark planning path falls back to driver planning (a compaction or
#: overwrite in the window rewrote table-scale file sets; the NEXT
#: checkpoint re-anchors it).
_SPARK_PLAN_MAX_REMOVED = 10_000


def _plan_files_spark(
    spark: SparkSession, path: str, version: int, where: list, specs: list
) -> list | None:
    """Distributed file skipping: filter the checkpoint PARQUET with
    compiled (conservative) pruning predicates as a Spark scan,
    collect only the surviving entries, and re-apply the exact driver
    predicate (_file_may_match — bloom included) to them plus the
    ≤ interval delta-window adds. Returns None when no checkpoint
    covers the version or the window rewrote too much — the caller
    falls back to driver planning. At 10^6 files this is the
    difference between the driver looping every entry dict and a
    columnar scan that returns only the sliver that survives."""
    base = -1
    for c in _ckpt_versions(path):
        if c <= version:
            base = c
    if base < 0:
        return None
    live_adds: list = []
    removed: set[str] = set()
    for v in range(base + 1, version + 1):
        rec = _read_delta(path, v)
        if "files" in rec:
            return None  # raw full manifest in the window: fall back
        rm = set(rec.get("remove") or ())
        if rm:
            live_adds = [e for e in live_adds if _entry_rel(e) not in rm]
            removed |= rm
        live_adds.extend(rec.get("add") or ())
    if len(removed) > _SPARK_PLAN_MAX_REMOVED:
        return None
    df = spark.read.parquet(_ckpt_file(path, base))
    # multi-spec tables: the checkpoint's part__<col> columns are NULL
    # both for "file not partitioned by col" (older/newer spec) and
    # for a genuinely-NULL partition value, so the partition branches
    # of _ckpt_prune_expr can't tell them apart — restrict the Spark
    # pass to the spec-independent min/max stats (still a superset;
    # the exact per-entry driver re-check below prunes the rest)
    part_by = specs[0] if len(specs) == 1 else None
    keep = F.lit(True)
    for col, op, val in where:
        pr = _ckpt_prune_expr(df.schema, col, op, val, part_by)
        if pr is not None:
            keep = keep & ~F.coalesce(pr, F.lit(False))
    if removed:
        rm_df = local_df(
            spark, [(p,) for p in sorted(removed)], "path string"
        )
        df = df.join(F.broadcast(rm_df), "path", "left_anti")
    rows = df.filter(keep).select(
        "seq", "path", "stats", "partitions", "bloom", "extra"
    ).collect()
    rows.sort(key=lambda r: r["seq"])  # restore snapshot order
    entries: list = []
    for r in rows:
        e: dict = {"path": r["path"]}
        if r["stats"] is not None:
            e["stats"] = json.loads(r["stats"])
        if r["partitions"] is not None:
            e["partitions"] = json.loads(r["partitions"])
        if r["bloom"] is not None:
            e["bloom"] = json.loads(r["bloom"])
        if r["extra"] is not None:
            e.update(json.loads(r["extra"]))
        entries.append(e)
    entries = [
        e for e in entries if _file_may_match(e, where, _entry_part_by(e, specs))
    ]
    entries.extend(
        e
        for e in live_adds
        if _file_may_match(e, where, _entry_part_by(e, specs))
    )
    return entries


def lake_read(
    spark: SparkSession,
    path: str,
    version: int | str | None = None,
    where: list[tuple] | None = None,
    prune_only: bool = False,
    timestamp=None,
) -> DataFrame:
    """Read snapshot `version` (default: latest). The manifest pins the
    exact file set, so concurrent writers never tear a read; absent
    columns (pre-evolution files) read as NULL via the manifest
    schema.

    `where` is an optional conjunction of (column, op, value) with op
    in ==/>=/>/<=/</in (value is a collection for `in` — the
    bucket-set restriction the streaming near-dup gate prunes its
    admission index with) — applied EXACTLY (as a real filter) after
    manifest FILE SKIPPING: files whose exact partition value or
    per-column min/max proves no row can match never enter the scan at
    all. At 100 TB this is the difference between reading a table and
    reading a sliver of it (Iceberg's manifest-pruning design); the
    row filter on the surviving files also pushes down into parquet
    row groups as usual. `prune_only=True` applies the FILE SKIPPING
    but skips the exact row filter — for callers that re-filter
    exactly themselves (the streaming gates' ledger anti-join passes
    a 10k-value `in` purely to prune files; materializing it as an
    isin() would bloat the plan for rows the join re-checks
    anyway)."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass version OR timestamp, not both")
        v = lake_version_at(path, timestamp)
    else:
        v = latest if version is None else _resolve_version(path, version)
    rec = _read_delta(path, v)
    specs = _partition_specs(rec)
    # manifest pruning lives in PHYSICAL column space (stats/blooms/
    # partition dirs are keyed by the stable physical names); the
    # exact row filter below stays logical
    pwhere = _phys_where(where, rec)
    entries = None
    if (
        where
        and "files" not in rec
        and (rec.get("n_files") or 0) >= LAKE_SPARK_PLAN_MIN_FILES
    ):
        # big snapshot: plan DISTRIBUTED — a Spark scan over the
        # checkpoint's typed pruning columns, never a driver loop
        # over every entry
        entries = _plan_files_spark(spark, path, v, pwhere, specs)
    if entries is None:
        m = _read_manifest(path, v)
        entries = m["files"]
        if where:
            entries = [
                e
                for e in entries
                if _file_may_match(e, pwhere, _entry_part_by(e, specs))
            ]
    else:
        m = {k: x for k, x in rec.items() if k not in ("add", "remove")}
    df = _read_entries(spark, path, m, entries)
    if where and not prune_only:
        for col, op, val in where:
            df = df.filter(_OPS[op](F.col(col), val))
    return df


def lake_read_changes(
    spark: SparkSession,
    path: str,
    from_version: int | str,
    to_version: int | str | None = None,
) -> DataFrame:
    """CDC-lite incremental read: the rows APPENDED strictly after
    snapshot `from_version` up to and including `to_version` (default
    latest), computed as a manifest diff — only the files new in the
    target snapshot are read, never the table. `from_version=-1`
    means "since before the first commit" (the full target snapshot).

    Incremental reads COMPOSE: for any split points a<b<c over an
    append-only history, changes(a,b) ∪ changes(b,c) == changes(a,c),
    and changes(-1, latest) == lake_read(latest) — the property an
    incremental downstream stage needs to equal its batch twin.

    Every commit in (from, to] must be an append: a delete/merge/
    compact/overwrite rewrites files, so a file-set diff no longer
    means "new rows" (a compaction's files are old rows re-bucketed).
    Those histories raise ValueError — re-read the full snapshot
    instead (the honest boundary). For row-level change feeds across
    dv-delete commits, use lake_read_cdf, which tags inserts AND
    deletes (the deletion-vector sets make row deletes diffable).
    Either bound may be a TAG name."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    from_version = _resolve_version(path, from_version)
    to_v = latest if to_version is None else _resolve_version(path, to_version)
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    to_m = _read_manifest(path, to_v)
    for v in range(max(from_version, -1) + 1, to_v + 1):
        op = _read_delta(path, v)["op"]
        # alter_constraints republishes an identical file set — safe
        # to diff across; anything that rewrites/deletes files is not
        if op not in ("append", "clone", "alter_constraints", "rename_column", "drop_column", "widen_column", "alter_partition_spec"):
            raise ValueError(
                f"incremental read undefined across non-append commit "
                f"v{v} ({op}) — re-read the full snapshot instead"
            )
    if from_version < 0:
        old = set()
    else:
        old = set(_paths(_read_manifest(path, from_version)["files"]))
    new_entries = [
        e
        for e in to_m["files"]
        if (e["path"] if isinstance(e, dict) else e) not in old
    ]
    return _read_entries(spark, path, to_m, new_entries)


def _cdf_preimage_parts(
    spark: SparkSession, path: str, m: dict, v: int, to_m: dict,
    out_cols: list[str], ct,
) -> list[DataFrame]:
    """Change events of one UPDATE (either strategy) or MoR MERGE
    commit: delete(preimage) + insert(postimage). The postimage rows
    live in the commit's recorded update_files; the preimage rows are
    recovered from the PRE-commit files (COW: on disk until vacuum;
    MoR: still live) semi-joined against the commit's recorded
    (file, ordinal) preimage addresses — which only ever name rows
    VISIBLE at v-1, so prior DVs need no re-application.
    Carried-over / untouched rows emit nothing. O(delta) reads."""
    parts: list[DataFrame] = []
    upd_rel = set(m["update_files"])
    upd_entries = [e for e in m["files"] if _entry_rel(e) in upd_rel]
    upd = _read_entries(
        spark, path, {**m, "schema": to_m["schema"],
             "column_mapping": to_m.get("column_mapping")},
        upd_entries, apply_dvs=False,
    )
    parts.append(
        upd.select(
            *out_cols,
            ct.alias("_change_type"),
            F.lit(v).cast("int").alias("_commit_version"),
        )
    )
    pre = spark.read.schema(_DV_SCHEMA).parquet(
        os.path.join(path, m["update_preimage_dv"])
    )
    touched = _dv_files_touched(path, [m["update_preimage_dv"]])
    pm = _read_manifest(path, v - 1)
    old_entries = [
        e for e in pm["files"] if _entry_rel(e) in touched
    ]
    raw = _read_entries(
        spark, path, {**pm, "schema": to_m["schema"],
             "column_mapping": to_m.get("column_mapping")},
        old_entries, keep_meta=True, apply_dvs=False,
    )
    if _dv_rows(path, [m["update_preimage_dv"]]) <= _DV_BROADCAST_MAX_ROWS:
        pre = F.broadcast(pre)
    parts.append(
        raw.join(pre, [_DV_FILE, _DV_POS], "left_semi")
        .select(
            *out_cols,
            F.lit("delete").alias("_change_type"),
            F.lit(v).cast("int").alias("_commit_version"),
        )
    )
    return parts


def lake_read_cdf(
    spark: SparkSession,
    path: str,
    from_version: int | str,
    to_version: int | str | None = None,
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two snapshots: every row
    appended or dv-deleted in (from, to], tagged with `_change_type`
    ('insert' | 'delete') and `_commit_version` (Delta CDF's shape).
    Deletion vectors make the delete side computable as a manifest
    diff: the DV sets a commit adds address exactly the rows it
    removed (and only rows VISIBLE at the prior version — a dv-delete
    never double-addresses), so the deleted rows' full values are
    recovered by a broadcast semi-join of the raw (pre-DV) scan
    against just the new DV rows. Only the delta files/DVs are read,
    never the table.

    A row inserted then dv-deleted inside the range appears twice
    (insert + delete) — the CDC consumer's compose rule is multiset:
    snapshot(from) + inserts − deletes == snapshot(to).

    MERGE commits emit delete(matched old row) + insert(update row)
    pairs — the manifest records the merge keys and update files, and
    the matched old rows are read from the pre-merge snapshot's
    rewritten files (requires them un-vacuumed; a vacuumed history
    fails honestly). Commits that rewrite files WITHOUT row-change
    metadata (cow delete, compact, overwrite, restore, pre-upgrade
    merges) are refused — their file diff does not mean row changes
    (the honest boundary lake_read_changes draws). Either bound may
    be a TAG name."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    from_version = _resolve_version(path, from_version)
    to_v = latest if to_version is None else _resolve_version(path, to_version)
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    to_m = _read_manifest(path, to_v)
    schema = T.StructType.fromJson(to_m["schema"])
    ct = F.lit("insert")
    out_cols = [f.name for f in schema.fields]
    parts: list[DataFrame] = []
    prev_files: set[str] = set()
    prev_dvs: list[str] = []
    if from_version >= 0:
        fm = _read_manifest(path, from_version)
        prev_files = set(_paths(fm["files"]))
        prev_dvs = list(fm.get("dvs") or [])
    for v in range(max(from_version, -1) + 1, to_v + 1):
        m = _read_manifest(path, v)
        op, strat = m["op"], m.get("strategy")
        if op in ("append", "overwrite") and v == 0 and from_version < 0:
            op = "append"  # the creating commit is all inserts
        if op in ("append", "clone", "alter_constraints", "rename_column", "drop_column", "widen_column", "alter_partition_spec"):
            new_entries = [
                e for e in m["files"] if _entry_rel(e) not in prev_files
            ]
            if new_entries:
                # read under the TO-version schema: columns added
                # later in the range surface as NULL (evolution).
                # A CLONE's creating commit applies its own DVs — rows
                # dv-deleted in the source before cloning were never
                # visible in the clone, so they must not emit as
                # inserts (later in-range dv-deletes still must NOT
                # erase insert events: apply_dvs stays False for
                # ordinary appends)
                ins = _read_entries(
                    spark, path, {**m, "schema": to_m["schema"],
                     "column_mapping": to_m.get("column_mapping")},
                    new_entries, apply_dvs=(op == "clone"),
                ).select(
                    *out_cols,
                    ct.alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                )
                parts.append(ins)
        elif op == "delete" and strat == "dv":
            new_dvs = [d for d in (m.get("dvs") or []) if d not in prev_dvs]
            if new_dvs:
                dv_df = spark.read.schema(_DV_SCHEMA).parquet(
                    *[os.path.join(path, d) for d in new_dvs]
                )
                # restrict the raw scan to the files the new DV rows
                # actually touch (a driver-side column read, no job) —
                # without this the delete branch would scan the WHOLE
                # snapshot per dv commit
                touched = _dv_files_touched(path, new_dvs)
                hit = [e for e in m["files"] if _entry_rel(e) in touched]
                raw = _read_entries(
                    spark, path, {**m, "schema": to_m["schema"],
                     "column_mapping": to_m.get("column_mapping")},
                    hit, keep_meta=True, apply_dvs=False,
                )
                if _dv_rows(path, new_dvs) <= _DV_BROADCAST_MAX_ROWS:
                    dv_df = F.broadcast(dv_df)
                dels = raw.join(
                    dv_df, [_DV_FILE, _DV_POS], "left_semi"
                ).select(
                    *out_cols,
                    F.lit("delete").alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                )
                parts.append(dels)
        elif op in ("update", "merge") and m.get("update_preimage_dv") and "update_files" in m:
            # UPDATE (either strategy) or MoR MERGE with recorded
            # preimage ADDRESSES = delete(preimage) + insert(postimage)
            # — handled by the address branch below (checked FIRST: a
            # MoR merge also carries merge_keys, but its rewrote_files
            # is empty, so the key-join recovery underneath would miss
            # every delete event).
            parts.extend(
                _cdf_preimage_parts(
                    spark, path, m, v, to_m, out_cols, ct
                )
            )
        elif op == "merge" and m.get("merge_keys") and "update_files" in m:
            # COW MERGE = delete(matched old rows) + insert(update
            # rows). The update rows live in the recorded update_files;
            # the matched old rows are recovered from the PRE-merge
            # snapshot's rewritten files (still on disk until vacuum;
            # a vacuumed history fails the read honestly) semi-joined
            # on the merge keys. Unmatched rewritten rows moved to
            # survivor files unchanged — no events for them.
            keys = list(m["merge_keys"])
            upd_rel = set(m["update_files"])
            upd_entries = [e for e in m["files"] if _entry_rel(e) in upd_rel]
            upd = _read_entries(
                spark, path, {**m, "schema": to_m["schema"],
                     "column_mapping": to_m.get("column_mapping")},
                upd_entries, apply_dvs=False,
            )
            parts.append(
                upd.select(
                    *out_cols,
                    ct.alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                )
            )
            rewrote = set(m.get("rewrote_files") or [])
            if rewrote:
                pm = _read_manifest(path, v - 1)
                old_entries = [
                    e for e in pm["files"] if _entry_rel(e) in rewrote
                ]
                # prev manifest context: its DVs apply (a row deleted
                # before the merge must not re-emit as merge-deleted)
                old = _read_entries(
                    spark, path, {**pm, "schema": to_m["schema"],
                     "column_mapping": to_m.get("column_mapping")},
                    old_entries,
                )
                dels = old.join(
                    F.broadcast(upd.select(*keys).distinct()), keys, "left_semi"
                ).select(
                    *out_cols,
                    F.lit("delete").alias("_change_type"),
                    F.lit(v).cast("int").alias("_commit_version"),
                )
                parts.append(dels)
        else:
            raise ValueError(
                f"change feed undefined across file-rewriting commit "
                f"v{v} ({m['op']}) — re-read the full snapshot instead"
            )
        prev_files = set(_paths(m["files"]))
        prev_dvs = list(m.get("dvs") or [])
    if not parts:
        empty = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.IntegerType()),
            ]
        )
        return local_df(spark, [], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def lake_latest_version(path: str) -> int | None:
    """Latest committed snapshot version, or None for no table —
    the cursor anchor for incremental (CDC-lite) consumers."""
    return _latest_version(path)


def _dv_rewrite(src_root: str, dvs, translate, dst_root: str, tag: str) -> list[str]:
    """Copy DV sets from under `src_root` to one combined set under
    `dst_root`/dv/, mapping every row's FILE ADDRESS through
    `translate` — deletion vectors address rows by the reading table's
    entry form, so any operation that changes entry forms (CLONE makes
    shared paths absolute; ADOPT localizes them back) must rewrite the
    addresses with them or the anti-join silently misses and deleted
    rows resurrect. DV sets are metadata-sized; this is driver work.
    Returns the new `dvs` list ([] when the sets held no rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tables = [
        pq.read_table(f)
        for d in dvs
        for f in _parquet_files(os.path.join(src_root, d))
    ]
    if not tables:
        return []
    t = pa.concat_tables(tables)
    files = [translate(fp) for fp in t.column(_DV_FILE).to_pylist()]
    t = t.set_column(
        t.schema.get_field_index(_DV_FILE),
        _DV_FILE,
        pa.array(files, pa.string()),
    )
    dv_rel = os.path.join("dv", f"{tag}-" + uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(dst_root, dv_rel), exist_ok=True)
    pq.write_table(t, os.path.join(dst_root, dv_rel, "part-0.parquet"))
    return [dv_rel]


def lake_clone(
    spark: SparkSession, src: str, dst: str, version: int | str | None = None
) -> int:
    """SHALLOW CLONE: create table `dst` whose v0 references the
    SOURCE snapshot's data files by absolute path — zero bytes copied,
    metadata-only, O(files) commit (Delta's CLONE). The clone is a
    full table afterwards: independent history, WRITABLE (appends land
    under dst; COW delete/update/merge rewrite hit files INTO dst —
    the source is never touched), compactable (OPTIMIZE densifies the
    clone into its own files), and vacuum on EITHER side never
    collects the other's files (clone vacuum skips external absolute
    paths; source vacuum doesn't know the clone exists — so keep the
    source's history or densify the clone before vacuuming the source,
    the documented shallow-clone liability Delta has too).

    The experimentation idiom at 100 TB: clone the curated corpus,
    test a risky MERGE/schema change against real data in seconds,
    throw the clone away — or densify (lake_compact) to promote it."""
    if _latest_version(dst) is not None:
        raise FileExistsError(f"clone target {dst} is already a lake table")
    latest = _latest_version(src)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {src}")
    v = latest if version is None else _resolve_version(src, version)
    m = _read_manifest(src, v)
    src_abs = os.path.abspath(src)
    entries = []
    for e in m["files"]:
        e2 = dict(e) if isinstance(e, dict) else {"path": e}
        if not os.path.isabs(e2["path"]):
            e2["path"] = os.path.join(src_abs, e2["path"])
        entries.append(e2)
    manifest = {
        "version": 0,
        "op": "clone",
        "ts": time.time(),
        "files": entries,
        "schema": m["schema"],
        "n_rows_delta": None,
        "properties": {"cloned_from": src_abs, "cloned_version": v},
    }
    for k in ("partition_by", "partition_specs", "bloom_cols", "constraints", "column_mapping"):
        if m.get(k):
            manifest[k] = m[k]
    if m.get("dvs"):
        # the clone OWNS its deletion vectors: the source's DV rows
        # address files by source-relative path, but the clone's scan
        # identifies those files by ABSOLUTE path (they live outside
        # its root) — rewrite the addresses into one dv set under dst.
        # DV sets are metadata-sized (bounded by deletes-since-last-
        # compaction), so this stays a metadata-only operation.
        new_dvs = _dv_rewrite(
            src,
            m["dvs"],
            lambda fp: fp if os.path.isabs(fp) else os.path.join(src_abs, fp),
            dst,
            "clone",
        )
        if new_dvs:
            manifest["dvs"] = new_dvs
    _commit(dst, 0, manifest)
    return 0


def lake_adopt(spark: SparkSession, path: str, clone: str) -> int:
    """WRITE-AUDIT-PUBLISH, completed: adopt an audited clone's
    current state back into `path` as ONE atomic commit. The workflow:

        lake_clone(spark, prod, staging)       # zero-copy branch-off
        ...risky MERGE / UPDATE / backfill on staging...
        ...audits read staging; prod serves reads untouched...
        lake_adopt(spark, prod, staging)       # publish

    The adopted commit's file list is the clone's live set — files the
    clone still shares with `path` resolve back to their original
    table-relative entries (no self-reference through the clone dir);
    files the clone wrote stay absolute references into the clone dir
    (zero-copy publish; run lake_compact afterwards to localize them).
    Schema, layout, constraints, and DVs adopt with it. Readers of
    `path` never see an intermediate state, time travel keeps the
    pre-publish history, and a concurrent commit to `path` wins or
    loses the ordinary version race (retry re-reads the clone — the
    caller decides whether adopting over the winner is still right, so
    conflicts raise instead of silently clobbering)."""
    c_latest = _latest_version(clone)
    if c_latest is None:
        raise FileNotFoundError(f"no manifest lake at {clone}")
    cm = _read_manifest(clone, c_latest)
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    abs_path = os.path.abspath(path) + os.sep
    clone_abs = os.path.abspath(clone)

    def _localize(rel: str) -> str:
        if os.path.isabs(rel):
            return rel[len(abs_path):] if rel.startswith(abs_path) else rel
        return os.path.join(clone_abs, rel)

    entries = []
    for e in cm["files"]:
        e2 = dict(e) if isinstance(e, dict) else {"path": e}
        e2["path"] = _localize(e2["path"])
        entries.append(e2)
    manifest = {
        "version": latest + 1,
        "op": "overwrite",
        "ts": time.time(),
        "files": entries,
        "schema": cm["schema"],
        "n_rows_delta": None,
        "properties": {
            "adopted_from": clone_abs,
            "adopted_version": c_latest,
        },
    }
    for k in ("partition_by", "partition_specs", "bloom_cols", "constraints", "column_mapping"):
        if cm.get(k):
            manifest[k] = cm[k]
    if cm.get("dvs"):
        # the DV ROWS address files in the CLONE's entry form; the
        # adopted manifest uses the SOURCE's — rewrite the addresses
        # through the same mapping the entries went through, or the
        # anti-join misses and dv-deleted rows resurrect on publish
        new_dvs = _dv_rewrite(clone, cm["dvs"], _localize, path, "adopt")
        if new_dvs:
            manifest["dvs"] = new_dvs
    _commit(path, latest + 1, manifest)
    return latest + 1


# --- tags: named snapshot refs (Iceberg tags) ------------------------------

_TAG_NAME = re.compile(r"^[A-Za-z_][\w.-]*$")


def _refs_dir(path: str) -> str:
    return os.path.join(_manifest_dir(path), "refs")


def _tag_file(path: str, name: str) -> str:
    if not _TAG_NAME.match(name):
        raise ValueError(f"bad tag name {name!r}")
    return os.path.join(_refs_dir(path), f"{name}.json")


def _resolve_version(path: str, version):
    """int/None pass through; a str resolves a TAG to its pinned
    version — the one indirection every version-taking API accepts."""
    if version is None or isinstance(version, int):
        return version
    tf = _tag_file(path, version)
    try:
        with open(tf) as fh:
            return int(json.load(fh)["version"])
    except FileNotFoundError:
        raise KeyError(
            f"no tag {version!r} at {path} (tags: {sorted(lake_tags(path))})"
        ) from None


def lake_version_at(path: str, timestamp) -> int:
    """The snapshot a reader at wall-clock `timestamp` would have
    seen: the LAST version committed at-or-before it (Delta's
    TIMESTAMP AS OF). `timestamp` is epoch seconds or an ISO-8601
    string (naive = UTC). Walks delta records newest-first — O(1)
    metadata per version, stopping at the first commit old enough;
    vacuumed history below the match fails honestly only when the
    timestamp predates everything kept."""
    if isinstance(timestamp, str):
        from datetime import datetime, timezone

        dt = datetime.fromisoformat(timestamp)
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        ts = dt.timestamp()
    else:
        ts = float(timestamp)
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    for v in range(latest, -1, -1):
        try:
            rec = _read_delta(path, v)
        except FileNotFoundError:
            break  # vacuumed below here
        if float(rec.get("ts") or 0.0) <= ts:
            return v
    raise ValueError(
        f"no snapshot at or before {timestamp!r} in the kept history of {path}"
    )


def lake_tag(
    path: str, name: str, version: int | None = None, replace: bool = False
) -> int:
    """Name a snapshot (Iceberg-style TAG): a durable, human-readable
    alias for `version` (default: latest) that every version-taking
    API — lake_read, lake_restore, the change feeds, `VERSION AS OF`
    in SQL — resolves. Tags also ANCHOR vacuum: a tagged snapshot's
    files and reconstruction checkpoint survive history drops, so
    'the exact corpus we trained run 7 on' stays readable for years
    while the working history is vacuumed weekly.

    Creation is compare-and-set (temp-write + hard-link): racing
    writers on the same fresh name — one wins, the rest get
    FileExistsError. `replace=True` retargets atomically
    (last-writer-wins, the mutable-ref semantics Iceberg gives
    branches)."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    v = latest if version is None else int(version)
    if not 0 <= v <= latest:
        raise ValueError(f"tag target v{v} outside committed history 0..{latest}")
    if not os.path.exists(os.path.join(_manifest_dir(path), f"v{v}.json")):
        raise ValueError(f"tag target v{v} was vacuumed away")
    tf = _tag_file(path, name)
    os.makedirs(_refs_dir(path), exist_ok=True)
    rec = {"name": name, "version": v, "ts": time.time()}
    tmp = tf + f".{uuid.uuid4().hex[:8]}.tmp"
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    if replace:
        os.replace(tmp, tf)
        return v
    try:
        os.link(tmp, tf)
    except FileExistsError:
        raise FileExistsError(
            f"tag {name!r} already exists at {path} (replace=True to move it)"
        ) from None
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return v


def lake_tags(path: str) -> dict[str, int]:
    """All tags as {name: version}."""
    rd = _refs_dir(path)
    out: dict[str, int] = {}
    if not os.path.isdir(rd):
        return out
    for f in sorted(os.listdir(rd)):
        if not f.endswith(".json"):
            continue
        try:
            with open(os.path.join(rd, f)) as fh:
                rec = json.load(fh)
            out[rec["name"]] = int(rec["version"])
        except (OSError, ValueError, KeyError):
            continue  # torn tmp or concurrent drop: skip
    return out


def lake_drop_tag(path: str, name: str) -> None:
    """Remove a tag. The snapshot it named stays readable until the
    next vacuum stops seeing a reason to keep it."""
    try:
        os.remove(_tag_file(path, name))
    except FileNotFoundError:
        raise KeyError(f"no tag {name!r} at {path}") from None


def lake_column_max(path: str, col: str, version: int | None = None):
    """Max of an orderable column across a snapshot computed from
    MANIFEST STATS ALONE — zero data files read, driver work is
    manifest-scale. Returns None when the table is missing, empty, or
    any live file lacks stats for the column (the caller falls back
    to a real scan); NaN bounds also force the fallback. This is how
    an incremental consumer recovers its source-version cursor from
    the derived table itself without scanning it."""
    latest = _latest_version(path)
    if latest is None:
        return None
    m = _read_manifest(path, latest if version is None else version)
    col = _mapping_physical(m).get(col, col)  # stats key physically
    if m.get("dvs"):
        # per-file stats include dv-deleted rows — the max may belong
        # to an invisible row; only a real scan is honest
        return None
    best = None
    for e in m["files"]:
        stats = e.get("stats") if isinstance(e, dict) else None
        rng = (stats or {}).get(col)
        if not rng or rng[1] is None or rng[1] != rng[1] or len(rng) > 2:
            # missing, NaN, or TRUNCATED (len>2 marker): a truncated
            # string max is a synthesized prune bound, not a row value
            # — handing it to a cursor consumer would skip real rows
            return None  # unknowable from stats: caller must scan
        best = rng[1] if best is None or rng[1] > best else best
    return best


def lake_restore(path: str, version: int | str) -> int:
    """RESTORE the table to an earlier snapshot AS A NEW COMMIT: the
    target version's file set, schema, DVs, layout, and constraints
    re-publish at latest+1 (Delta RESTORE). History is preserved —
    the bad commits stay inspectable between the two good states, and
    a concurrent reader never sees a rollback tear. Requires the
    target manifest (and its data files) to still exist, i.e. not
    vacuumed. `version` may be a TAG name. Returns the new version."""
    version = _resolve_version(path, version)

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        tm = _read_manifest(path, version)
        missing = [
            p
            for p in _paths(tm["files"])
            if not os.path.exists(os.path.join(path, p))
        ]
        if missing:
            raise FileNotFoundError(
                f"cannot restore to v{version}: {len(missing)} data "
                f"file(s) were vacuumed (first: {missing[0]})"
            )
        new_v = latest + 1
        manifest = {
            "version": new_v,
            "op": "restore",
            "restored_from": version,
            "ts": time.time(),
            "files": tm["files"],
            "schema": tm["schema"],
            "n_rows_delta": None,
        }
        for k in ("dvs", "partition_by", "partition_specs", "bloom_cols", "constraints", "column_mapping"):
            if tm.get(k):
                manifest[k] = tm[k]
        _commit(path, new_v, manifest)
        return new_v

    return _retry_cow("restore", path, once)


def lake_alter_constraints(
    spark: SparkSession,
    path: str,
    add_checks: dict[str, str] | None = None,
    add_not_null: tuple[str, ...] = (),
    drop_checks: tuple[str, ...] = (),
    drop_not_null: tuple[str, ...] = (),
) -> int:
    """Add/drop table constraints as one commit. Added constraints are
    validated against the CURRENT visible rows first (one scan — the
    ALTER TABLE ADD CONSTRAINT contract: a constraint that doesn't
    hold now is refused, so readers can rely on it holding always);
    subsequent lake_write/lake_merge enforce them on every batch.
    `add_checks` maps constraint name → SQL boolean expression over
    the table's columns (violated only when FALSE — SQL semantics, a
    NULL check passes; pair with not_null to forbid nulls)."""

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        cons = {
            "not_null": list((m.get("constraints") or {}).get("not_null") or []),
            "checks": dict((m.get("constraints") or {}).get("checks") or {}),
        }
        for c in drop_not_null:
            if c in cons["not_null"]:
                cons["not_null"].remove(c)
        for name in drop_checks:
            cons["checks"].pop(name, None)
        added = {
            "not_null": [c for c in add_not_null if c not in cons["not_null"]],
            "checks": dict(add_checks or {}),
        }
        cons["not_null"] += added["not_null"]
        cons["checks"].update(added["checks"])
        if added["not_null"] or added["checks"]:
            existing = _read_entries(spark, path, m, m["files"])
            _enforce_constraints(
                existing, T.StructType.fromJson(m["schema"]), added
            )
        if not cons["not_null"] and not cons["checks"]:
            cons = None
        version = latest + 1
        manifest = {
            "version": version,
            "op": "alter_constraints",
            "ts": time.time(),
            "files": m["files"],
            "schema": m["schema"],
            "n_rows_delta": None,
        }
        if cons:
            manifest["constraints"] = cons
        for k in ("dvs", "partition_by", "partition_specs", "bloom_cols", "column_mapping"):
            if m.get(k):
                manifest[k] = m[k]
        _commit(path, version, manifest)
        return version

    return _retry_cow("alter_constraints", path, once)


def _constraint_mentions(cons: dict | None, col: str) -> bool:
    if not cons:
        return False
    if col in (cons.get("not_null") or []):
        return True
    pat = re.compile(rf"(?<![\w.]){re.escape(col)}(?![\w])")
    return any(pat.search(expr) for expr in (cons.get("checks") or {}).values())


def lake_rename_column(path: str, old: str, new: str) -> int:
    """RENAME a column as a METADATA-ONLY commit: zero data files are
    rewritten. First use enables ID-based column mapping (each logical
    column gets a stable PHYSICAL name — the one already in the files),
    then the rename changes only the logical binding; stats, blooms,
    and partition layouts keep keying on the physical name, so pruning
    and time travel are unaffected. Columns referenced by CHECK
    constraints refuse (the stored SQL text would dangle — Delta's
    restriction too); NOT NULL entries rewrite with the column."""

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        names = schema.fieldNames()
        if old not in names:
            raise ValueError(f"no column {old!r} to rename")
        if new in names:
            raise ValueError(f"rename target {new!r} already exists")
        if new in (_DV_FILE, _DV_POS) or not re.match(r"^[A-Za-z_]\w*$", new):
            raise ValueError(f"invalid column name {new!r}")
        cons = m.get("constraints")
        checks = (cons or {}).get("checks") or {}
        pat = re.compile(rf"(?<![\w.]){re.escape(old)}(?![\w])")
        if any(pat.search(expr) for expr in checks.values()):
            raise ValueError(
                f"column {old!r} is referenced by a CHECK constraint — "
                "drop the constraint first"
            )
        mapping = _ensure_mapping(m)
        for c in mapping["cols"]:
            if c["name"] == old:
                c["name"] = new
        new_schema = T.StructType(
            [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        if cons and old in (cons.get("not_null") or []):
            cons = {
                "not_null": [
                    new if c == old else c for c in cons["not_null"]
                ],
                "checks": dict(checks),
            }
        version = latest + 1
        manifest = {
            "version": version,
            "op": "rename_column",
            "renamed": [old, new],
            "ts": time.time(),
            "files": m["files"],
            "schema": new_schema.jsonValue(),
            "n_rows_delta": None,
            "column_mapping": mapping,
        }
        if cons:
            manifest["constraints"] = cons
        for k in ("dvs", "partition_by", "partition_specs", "bloom_cols"):
            if m.get(k):
                manifest[k] = m[k]
        _commit(path, version, manifest)
        return version

    return _retry_cow("rename_column", path, once)


def lake_drop_column(path: str, col: str) -> int:
    """DROP a column as a METADATA-ONLY commit: the logical binding
    leaves the schema and mapping; the bytes stay in the old files
    (unread — the physical name is no longer in any scan schema) until
    their snapshots vacuum. Re-adding the same NAME later allocates a
    fresh physical name, so the old bytes can never resurrect.
    Partition-source, bloom, and constrained columns refuse (their
    layouts/filters/expressions would dangle)."""

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no column {col!r} to drop")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the table's only column")
        if _constraint_mentions(m.get("constraints"), col):
            raise ValueError(
                f"column {col!r} is referenced by a constraint — "
                "drop the constraint first"
            )
        phys = _mapping_physical(m).get(col, col)
        for sp in m.get("partition_by") or []:
            if _parse_partition_spec(sp)[2] == phys:
                raise ValueError(
                    f"column {col!r} partitions the table's layout — "
                    "rewrite via overwrite instead"
                )
        if phys in (m.get("bloom_cols") or []):
            raise ValueError(
                f"column {col!r} carries the table's bloom filters — "
                "rewrite via overwrite instead"
            )
        mapping = _ensure_mapping(m)
        mapping["cols"] = [c for c in mapping["cols"] if c["name"] != col]
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != col]
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "drop_column",
            "dropped": col,
            "ts": time.time(),
            "files": m["files"],
            "schema": new_schema.jsonValue(),
            "n_rows_delta": None,
            "column_mapping": mapping,
        }
        for k in ("dvs", "partition_by", "partition_specs", "bloom_cols", "constraints"):
            if m.get(k):
                manifest[k] = m[k]
        _commit(path, version, manifest)
        return version

    return _retry_cow("drop_column", path, once)


_WIDEN_TYPE_NAMES = {
    "tinyint": T.ByteType(), "byte": T.ByteType(),
    "smallint": T.ShortType(), "short": T.ShortType(),
    "int": T.IntegerType(), "integer": T.IntegerType(),
    "bigint": T.LongType(), "long": T.LongType(),
    "float": T.FloatType(), "real": T.FloatType(),
    "double": T.DoubleType(),
}


def lake_widen_column(path: str, col: str, new_type) -> int:
    """Widen a column's declared type as a METADATA-ONLY commit
    (ALTER TABLE ... ALTER COLUMN ... TYPE): no file is rewritten —
    Spark 4's parquet reader upcasts the narrower file columns to the
    wider read schema natively, and subsequent narrower writes upcast
    their rows on the way in (lake_write). Only the LOSSLESS
    promotions `_widened` allows (byte→short→int→long, float→double,
    int-family→double — Delta's type-widening set) are accepted;
    long→int, double→float, or any non-numeric change refuses.
    `new_type` is a Spark DataType or a SQL type name string.
    Widening to the column's current type is a no-op (no commit)."""
    if isinstance(new_type, T.DataType):
        dt = new_type
    else:
        key = str(new_type).strip().lower()
        if key not in _WIDEN_TYPE_NAMES:
            raise ValueError(
                f"unsupported widen target type {new_type!r} "
                f"(supported: {sorted(set(_WIDEN_TYPE_NAMES))})"
            )
        dt = _WIDEN_TYPE_NAMES[key]

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        if col not in schema.fieldNames():
            raise ValueError(f"no column {col!r} to widen")
        old_t = schema[col].dataType
        if old_t == dt:
            return latest  # already that type: no snapshot needed
        w = _widened(old_t, dt)
        if w is None or w != dt:
            raise ValueError(
                f"cannot alter {col!r} from {old_t.simpleString()} to "
                f"{dt.simpleString()} — only lossless widening is allowed "
                "(rewrite via overwrite)"
            )
        new_schema = T.StructType(
            [
                T.StructField(f.name, dt if f.name == col else f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "widen_column",
            "widened": [col, old_t.simpleString(), dt.simpleString()],
            "ts": time.time(),
            "files": m["files"],
            "schema": new_schema.jsonValue(),
            "n_rows_delta": None,
        }
        for k in ("dvs", "partition_by", "partition_specs", "bloom_cols", "constraints",
                  "column_mapping"):
            if m.get(k):
                manifest[k] = m[k]
        _commit(path, version, manifest)
        return version

    return _retry_cow("widen_column", path, once)


def lake_alter_partition_spec(path: str, partition_by) -> int:
    """Change the table's partition layout as a METADATA-ONLY commit
    (Iceberg partition-spec evolution / ALTER TABLE ... WRITE
    PARTITIONED BY): no file is rewritten — the new spec is appended
    to the manifest's `partition_specs` history and becomes current;
    files written before keep their old layout (entries carry a
    per-file spec id), files written after lay out under the new one,
    and planning prunes each file with its own spec. `lake_compact`
    migrates data to the current spec as a side effect of rewriting.
    Pass an empty tuple to make future writes unpartitioned.
    Re-declaring the current spec is a no-op (no commit)."""
    new_spec = tuple(str(s).strip() for s in (partition_by or ()))
    _spec_info(new_spec)  # parse + reject identity/transform mixing

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        phys = _mapping_physical(m)
        phys_spec: list[str] = []
        for sp in new_spec:
            kind, param, col, _d = _parse_partition_spec(sp)
            if col not in schema.fieldNames():
                raise ValueError(f"partition source column {col!r} not in schema")
            dt = schema[col].dataType
            if kind in ("day", "month", "year") and not isinstance(
                dt, (T.DateType, T.TimestampType)
            ):
                raise ValueError(
                    f"{kind}() needs a date/timestamp column, "
                    f"{col!r} is {dt.simpleString()}"
                )
            # specs live in PHYSICAL column space (like stats/blooms):
            # renames never invalidate the layout history
            p = phys.get(col, col)
            if kind == "identity":
                phys_spec.append(p)
            elif kind in ("bucket", "truncate"):
                phys_spec.append(f"{kind}({param}, {p})")
            else:
                phys_spec.append(f"{kind}({p})")
        cur = tuple(m.get("partition_by") or ())
        if tuple(phys_spec) == cur:
            return latest  # already the current layout: no snapshot
        base = m.get("partition_specs") or [list(cur)]
        version = latest + 1
        manifest = {
            "version": version,
            "op": "alter_partition_spec",
            "spec_change": [list(cur), list(phys_spec)],
            "ts": time.time(),
            "files": m["files"],
            "schema": m["schema"],
            "n_rows_delta": None,
            "partition_specs": [list(s) for s in base] + [list(phys_spec)],
        }
        if phys_spec:
            manifest["partition_by"] = list(phys_spec)
        for k in ("dvs", "bloom_cols", "constraints", "column_mapping"):
            if m.get(k):
                manifest[k] = m[k]
        _commit(path, version, manifest)
        return version

    return _retry_cow("alter_partition_spec", path, once)


def lake_history(path: str) -> list[dict]:
    """Commit log. Reads the raw delta records only — O(1) metadata
    per version, no file-list reconstruction (the shape that stays
    cheap at 10^5 commits)."""
    latest = _latest_version(path)
    if latest is None:
        return []
    out = []
    for v in range(latest + 1):
        try:
            m = _read_delta(path, v)
        except FileNotFoundError:
            continue  # vacuumed
        n_files = m.get("n_files")
        if n_files is None and "files" in m:
            n_files = len(m["files"])  # legacy full manifest
        entry = {
            "version": v,
            "op": m["op"],
            "ts": m.get("ts"),
            "n_files": n_files,
            "n_rows_delta": m.get("n_rows_delta"),
        }
        if m.get("properties"):
            entry["properties"] = m["properties"]
        out.append(entry)
    return out


def _retry_cow(op_name: str, path: str, once):
    """Run a copy-on-write operation with optimistic-conflict retry:
    `once()` reads the latest snapshot, does its row work, and
    commits; losing the version race re-RUNS it from the winner's
    snapshot (the winner may have added files the pruning never
    scanned, so re-merging manifests alone would miss rows — Delta
    resolves delete-vs-append the same way). Lost attempts leave only
    unreferenced data files, which vacuum collects after retention.

    Ops that publish through _classified_commit first try a REBASE
    (commit without re-execution) when the winner's commits are
    provably disjoint — only a classification failure reaches the
    re-run here (CONFLICT_STATS counts both outcomes)."""
    for attempt in range(_MAX_COMMIT_ATTEMPTS):
        try:
            return once()
        except _CommitConflict:
            CONFLICT_STATS["reexecuted"] += 1
            time.sleep(_backoff(attempt))
    raise ConcurrentCommitError(
        f"{op_name} lost the commit race {_MAX_COMMIT_ATTEMPTS} times at {path}"
    )


# observability for the conflict path (tests pin "exactly one
# execution" through these; reset freely — they are counters, not state)
CONFLICT_STATS = {"reexecuted": 0, "rebased": 0}


def _dv_files_touched(path: str, dv_dirs) -> set[str]:
    """The distinct file rels a DV address set names — driver-side
    pyarrow column scan, unique values bounded by #files."""
    import pyarrow.parquet as pq

    out: set[str] = set()
    for d in dv_dirs:
        for f in _parquet_files(os.path.join(path, d)):
            col = pq.read_table(f, columns=[_DV_FILE]).column(_DV_FILE)
            out.update(col.unique().to_pylist())
    return out


def _classified_commit(
    path: str,
    manifest: dict,
    base_m: dict,
    *,
    read_rels: set | None,
    read_dv_dirs: tuple = (),
    append_safe: bool = True,
) -> int:
    """Publish a prepared row-op commit; on losing the version race,
    CLASSIFY the winner commits and — when every one is provably
    disjoint — REBASE the prepared manifest onto the winner's snapshot
    and commit WITHOUT re-executing the row work (Delta's conflict
    checker under WriteSerializable). Classification failure raises
    _CommitConflict so _retry_cow re-runs the op from the winner's
    snapshot, exactly as before.

    `read_rels` is the loser's read/write file set: the files it
    rewrites or whose rows its deletion vectors address (None = derive
    from `read_dv_dirs` lazily, only on conflict). A winner commit is
    SAFE iff it leaves the schema/layout/constraints/mapping unchanged
    and:

    - blind append (op append, incl. merge-insert-only): safe when
      `append_safe` — predicate ops (DELETE/UPDATE/OPTIMIZE) serialize
      loser-then-winner under WriteSerializable even if the appended
      rows match the predicate (Delta's blind-append exemption); KEY
      ops (MERGE) pass append_safe=False because a concurrent insert
      of the same key must re-probe.
    - cow delete / compact: derived rows only (a delete's survivors /
      a compaction's rewrite are subsets of rows the loser already
      scanned and did not match) — safe iff the winner's removed files
      are disjoint from `read_rels`.
    - dv delete: file list unchanged — safe iff the winner's NEW
      deletion vectors address no file in `read_rels` (rewriting a
      file whose rows the winner just hid would resurrect them).
    - update / merge (either strategy), restore, overwrite, schema or
      constraint DDL: never rebased — updates append POSTIMAGE rows
      (new values the loser's predicate never saw; neither
      serialization order is provable file-level), the rest change
      state wholesale.

    The rebased manifest = winner's live files − loser's removed +
    loser's added, winner's DVs + loser's new DVs; all scalar state
    (schema, layout, constraints, mapping) verified base-equal first."""
    version = manifest["version"]
    try:
        _commit(path, version, manifest)
        return version
    except _CommitConflict:
        pass
    base_rels = set(_paths(base_m["files"]))
    mine_rels = {_entry_rel(e) for e in manifest["files"]}
    removed = base_rels - mine_rels
    added_entries = [
        e for e in manifest["files"] if _entry_rel(e) not in base_rels
    ]
    base_dvs = list(base_m.get("dvs") or [])
    new_dvs = [d for d in (manifest.get("dvs") or []) if d not in base_dvs]
    # DVs the loser intentionally dropped (e.g. a partial compact pruning
    # fully-rewritten DV dirs): a rebase must re-apply the drop, else the
    # winner's carried copy reinstates the dangling dirs and regresses the
    # bounded read-amplification contract until the next maintenance pass.
    dropped_dvs = set(base_dvs) - set(manifest.get("dvs") or [])
    if read_rels is None:
        read_rels = _dv_files_touched(path, read_dv_dirs)
    base_schema = json.dumps(base_m["schema"], sort_keys=True)
    _SCALARS = ("partition_by", "partition_specs", "bloom_cols", "constraints", "column_mapping")
    base_scalars = {k: base_m.get(k) for k in _SCALARS}
    checked = version - 1  # winners ≤ this are the base we executed on
    # bounded: under sustained traffic a loser whose winners all classify
    # as disjoint could otherwise re-classify and re-lose forever; after
    # _MAX_COMMIT_ATTEMPTS rebase races, fall back to _retry_cow's
    # backoff-and-re-execute path via _CommitConflict.
    for _rebase_round in range(_MAX_COMMIT_ATTEMPTS):
        latest = _latest_version(path)
        for v in range(checked + 1, (latest or -1) + 1):
            w = _read_manifest(path, v)
            if json.dumps(w["schema"], sort_keys=True) != base_schema:
                raise _CommitConflict(f"winner v{v} changed the schema")
            if {k: w.get(k) for k in _SCALARS} != base_scalars:
                raise _CommitConflict(f"winner v{v} changed table metadata")
            op = w["op"]
            if op == "append":
                if not append_safe:
                    raise _CommitConflict(
                        f"winner v{v} appended rows a key-based op must re-probe"
                    )
            elif op == "compact" or (
                op == "delete" and w.get("strategy") != "dv"
            ):
                rec = _read_delta(path, v)
                w_removed = set(rec.get("remove") or [])
                if w_removed & read_rels:
                    raise _CommitConflict(
                        f"winner v{v} rewrote files this op read"
                    )
            elif op == "delete":  # dv strategy: file list unchanged
                prev_w_dvs = set(_read_manifest(path, v - 1).get("dvs") or [])
                w_new = [d for d in (w.get("dvs") or []) if d not in prev_w_dvs]
                if _dv_files_touched(path, w_new) & read_rels:
                    raise _CommitConflict(
                        f"winner v{v} dv-deleted rows in files this op read"
                    )
            else:
                raise _CommitConflict(
                    f"winner v{v} ({op}) is not classifiable as disjoint"
                )
        win_m = _read_manifest(path, latest)
        win_rels = set(_paths(win_m["files"]))
        if removed - win_rels:
            raise _CommitConflict("winner dropped files this op rewrites")
        reb = dict(manifest)
        reb["version"] = latest + 1
        reb["files"] = [
            e for e in win_m["files"] if _entry_rel(e) not in removed
        ] + list(added_entries)
        win_dvs = list(win_m.get("dvs") or [])
        merged_dvs = [d for d in win_dvs if d not in dropped_dvs] + [
            d for d in new_dvs if d not in win_dvs
        ]
        if merged_dvs:
            reb["dvs"] = merged_dvs
        else:
            reb.pop("dvs", None)
        try:
            _commit(path, reb["version"], reb)
            CONFLICT_STATS["rebased"] += 1
            return reb["version"]
        except _CommitConflict:
            checked = latest
            manifest = reb
            continue
    raise _CommitConflict(
        f"rebase lost the version race {_MAX_COMMIT_ATTEMPTS} times at {path}"
    )


def _dv_delete_once(
    spark: SparkSession,
    path: str,
    select_hits,
    properties: dict | None = None,
    append_safe: bool = True,
) -> int:
    """One attempt of the merge-on-read delete: address the VISIBLE
    matching rows (existing DVs already applied by _read_entries, so
    a row can never be double-deleted), write their (file, ordinal)
    pairs as a new DV parquet set, and publish a manifest whose file
    list is UNCHANGED — the whole point. `select_hits(df) -> df`
    narrows the visible rows to the ones to delete (a predicate
    filter, or a key semi-join for CDC retractions)."""
    latest = _latest_version(path)
    if latest is None:
        raise FileNotFoundError(f"no manifest lake at {path}")
    m = _read_manifest(path, latest)
    if not m["files"]:
        return latest
    schema = T.StructType.fromJson(m["schema"])
    clash = {_DV_FILE, _DV_POS} & set(schema.fieldNames())
    if clash:
        raise ValueError(f"table uses reserved DV column names {sorted(clash)}")
    df = _read_entries(spark, path, m, m["files"], keep_meta=True)
    dv_rel = os.path.join("dv", uuid.uuid4().hex[:12])
    select_hits(df).select(_DV_FILE, _DV_POS).write.mode("error").parquet(
        os.path.join(path, dv_rel)
    )
    n = _dir_rows(os.path.join(path, dv_rel))
    if n == 0:
        shutil.rmtree(os.path.join(path, dv_rel), ignore_errors=True)
        return latest  # nothing matched: no new snapshot needed
    version = latest + 1
    manifest = {
        "version": version,
        "op": "delete",
        "strategy": "dv",
        "ts": time.time(),
        "files": m["files"],
        "schema": m["schema"],
        "n_rows_delta": -n,
        "dvs": list(m.get("dvs") or []) + [dv_rel],
    }
    if properties:
        manifest["properties"] = dict(properties)
    for k in ("partition_by", "partition_specs", "bloom_cols", "constraints", "column_mapping"):
        if m.get(k):
            manifest[k] = m[k]
    return _classified_commit(
        path, manifest, m,
        read_rels=None, read_dv_dirs=(dv_rel,), append_safe=append_safe,
    )


def lake_delete(
    spark: SparkSession,
    path: str,
    predicate,
    strategy: str = "cow",
    isolation: str = "write_serializable",
) -> int:
    """DELETE rows matching `predicate` (a Column), publish one new
    snapshot, return the new version. Two strategies:

    - `"cow"` (copy-on-write, default): rewrite ONLY the files that
      actually contain matching rows (located via _metadata.file_path);
      every other file carries over untouched. Right when deletes are
      rare or bulk — the read path stays a plain scan.
    - `"dv"` (merge-on-read deletion vectors): rewrite NOTHING. The
      matching rows' (file, row-ordinal) addresses are written as a
      small parquet deletion-vector set under <table>/dv/, and the
      manifest's `dvs` list carries it; every read anti-joins the
      broadcast DV relation (see _read_entries). At 100 TB this turns
      "delete 0.1% of rows scattered across every file" from a
      full-table rewrite into a metadata-sized write — the
      Delta/Iceberg v2 position-delete design. DVs accumulate until
      the next COMPACT, which materializes them into clean files and
      clears the list (the read-amplification ceiling is bounded by
      compaction cadence).

    Conflict handling: non-disjoint races re-run the whole delete
    from the winner's snapshot (_retry_cow); provably-disjoint races
    rebase without re-execution (_classified_commit). Under the
    default `isolation="write_serializable"` (Delta's default) a
    concurrent BLIND APPEND does not conflict — the delete commits
    against the snapshot it read and appended rows survive even when
    they match the predicate (serialized delete-then-append);
    `isolation="serializable"` makes any concurrent append re-run the
    delete so the predicate also covers the appended rows."""
    if strategy not in ("cow", "dv"):
        raise ValueError(f"unknown delete strategy {strategy!r}")
    if isolation not in ("write_serializable", "serializable"):
        raise ValueError(f"unknown isolation {isolation!r}")
    append_safe = isolation == "write_serializable"
    # SQL three-valued logic: a NULL predicate means NOT MATCHED — the
    # row survives. The hit side (filter(pred)) already drops NULLs;
    # the COW survivor side must use NOT(coalesce(pred, false)), or a
    # file rewritten for one true-pred row would silently lose its
    # null-pred neighbours (the DV path never had the asymmetry).
    predicate = F.coalesce(
        (F.expr(predicate) if isinstance(predicate, str) else predicate).cast(
            "boolean"
        ),
        F.lit(False),
    )
    if strategy == "dv":
        return _retry_cow(
            "delete-dv",
            path,
            lambda: _dv_delete_once(
                spark, path, lambda df: df.filter(predicate),
                append_safe=append_safe,
            ),
        )

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        if not m["files"]:
            return latest
        # hit files located via the scan's _metadata rel path (the
        # keep_meta column) — input_file_name() cannot sit above the
        # DV anti-join (two file sources in one plan)
        df = _read_entries(spark, path, m, m["files"], keep_meta=True)
        hit_rel = {
            r.f
            for r in df.filter(predicate)
            .select(F.col(_DV_FILE).alias("f"))
            .distinct()
            .collect()
        }
        rewritten = [e for e in m["files"] if _entry_rel(e) in hit_rel]
        if not rewritten:
            return latest  # nothing matched: no new snapshot needed
        keep = [e for e in m["files"] if _entry_rel(e) not in hit_rel]
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        survivors = _read_entries(spark, path, m, rewritten).filter(~predicate)
        new_files = _stamp_spec(
            _write_data_files(
                survivors, path, part_by, bl_cols, m.get("column_mapping")
            )[0],
            m,
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "delete",
            "ts": time.time(),
            "files": keep + new_files,
            "schema": m["schema"],
            "n_rows_delta": None,
            "rewrote_files": _paths(rewritten),
        }
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if m.get("column_mapping"):
            manifest["column_mapping"] = m["column_mapping"]
        if m.get("dvs"):
            # DV rows addressing the rewritten files dangle harmlessly
            # (their rel paths left the file list); kept files still
            # need theirs
            manifest["dvs"] = m["dvs"]
        if part_by:
            manifest["partition_by"] = list(part_by)
        if m.get("partition_specs"):
            manifest["partition_specs"] = m["partition_specs"]
        if bl_cols:
            manifest["bloom_cols"] = list(bl_cols)
        return _classified_commit(
            path, manifest, m, read_rels=hit_rel, append_safe=append_safe
        )

    return _retry_cow("delete", path, once)


def lake_delete_keys(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    keys: tuple[str, ...],
    properties: dict | None = None,
) -> int:
    """Merge-on-read DELETE of every row whose key appears in
    `keys_df` — the CDC RETRACTION primitive: an upstream change feed
    hands a downstream table the keys it must forget, and the delete
    lands as a deletion-vector commit (no file rewritten, no driver
    materialization of the key set — the semi-join broadcast-bounds
    it the same way lake_merge bounds its rewrite scan). Deleting
    keys that are absent (or already deleted) matches nothing and
    publishes no snapshot — replay-idempotent, which is what lets a
    crash between a consumer's retract and append commits recover by
    simply re-running."""
    key_df = keys_df.select(*keys).distinct()
    return _retry_cow(
        "delete-keys",
        path,
        lambda: _dv_delete_once(
            spark,
            path,
            lambda df: df.join(F.broadcast(key_df), list(keys), "left_semi"),
            properties=properties,
            append_safe=False,  # key-based: a concurrent append of the
            # same key must be re-probed, not rebased past
        ),
    )


def lake_merge(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: tuple[str, ...],
    strategy: str = "cow",
) -> int:
    """MERGE (upsert by key) as ONE atomic snapshot: matched rows
    replaced, unmatched inserted, readers never see the intermediate
    state. Returns the new version. Conflicts re-run from the
    winner's snapshot. Two strategies:

    - `"cow"` (copy-on-write, default): files containing rows whose
      key appears in `updates` are rewritten WITHOUT those rows (same
      file-pruning as lake_delete), and the updates append as new
      files. The key-set broadcast bounds the rewrite scan (a
      semi-join per file); cost is O(hit-file bytes) — right when the
      update keys cluster into few files.
    - `"mor"` (merge-on-read): NO file is rewritten. The matched old
      rows' (file, row-ordinal) addresses land as a deletion-vector
      set (hiding them on read), and the update rows append as
      postimage files — one commit, cost O(update rows + matched
      addresses). At 100 TB this is the only MERGE that survives the
      common CDC shape — 0.1-1% of keys scattered across every file
      would otherwise rewrite the table. The DV debt drains at the
      next COMPACT / lake_maintain, exactly like dv-delete.

    Either way the commit records `merge_keys` + `update_files` (and
    under MoR the preimage address set) so lake_read_cdf derives
    delete(old)/insert(new) row events at O(delta)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    latest = _latest_version(path)
    if latest is None:
        lake_write(updates, path)
        return 0

    def once_mor() -> int:
        latest = _latest_version(path)
        if latest is None:
            return lake_write(updates, path)
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        clash = {_DV_FILE, _DV_POS} & set(schema.fieldNames())
        if clash:
            raise ValueError(
                f"table uses reserved DV column names {sorted(clash)}"
            )
        merged_schema, casts = _evolve_schema(schema, updates.schema)
        upd = updates
        if casts:
            upd = upd.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})
        mapping = m.get("column_mapping")
        if mapping:
            added = [
                f.name
                for f in upd.schema.fields
                if f.name not in schema.fieldNames()
            ]
            mapping = _extend_mapping(_ensure_mapping(m), added)
        if m.get("constraints"):
            _enforce_constraints(upd, schema, m["constraints"])
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        key_df = upd.select(*keys).distinct()
        pre_rel, n_pre = None, 0
        if m["files"]:
            # matched VISIBLE rows' addresses (existing DVs already
            # applied — a row can never be double-hidden), landed as
            # parquet in the DV address shape
            df = _read_entries(spark, path, m, m["files"], keep_meta=True)
            rel = os.path.join("dv", "pre-" + uuid.uuid4().hex[:12])
            df.join(F.broadcast(key_df), list(keys), "left_semi").select(
                _DV_FILE, _DV_POS
            ).write.mode("error").parquet(os.path.join(path, rel))
            n_pre = _dir_rows(os.path.join(path, rel))
            if n_pre == 0:
                shutil.rmtree(os.path.join(path, rel), ignore_errors=True)
            else:
                pre_rel = rel
        update_entries, n_up = _write_data_files(
            upd, path, part_by, bl_cols, mapping
        )
        _stamp_spec(update_entries, m)
        version = latest + 1
        manifest = {
            "version": version,
            "op": "merge",
            "strategy": "mor",
            "ts": time.time(),
            "files": list(m["files"]) + update_entries,
            "schema": merged_schema.jsonValue(),
            "n_rows_delta": n_up - n_pre,
            "rewrote_files": [],
            "merge_keys": list(keys),
            "update_files": _paths(update_entries),
        }
        if pre_rel is not None:
            manifest["update_preimage_dv"] = pre_rel
            manifest["dvs"] = list(m.get("dvs") or []) + [pre_rel]
        elif m.get("dvs"):
            manifest["dvs"] = m["dvs"]
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if part_by:
            manifest["partition_by"] = list(part_by)
        if m.get("partition_specs"):
            manifest["partition_specs"] = m["partition_specs"]
        if bl_cols:
            manifest["bloom_cols"] = list(bl_cols)
        if mapping:
            manifest["column_mapping"] = mapping
        return _classified_commit(
            path, manifest, m,
            read_rels=None,
            read_dv_dirs=(pre_rel,) if pre_rel else (),
            append_safe=False,  # key-based upsert
        )

    if strategy == "mor":
        return _retry_cow("merge-mor", path, once_mor)

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            return lake_write(updates, path)
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        merged_schema, casts = _evolve_schema(schema, updates.schema)
        upd = updates
        if casts:
            # update rows narrower than the table's widened type:
            # upcast before writing (MERGE accepts widened updates)
            upd = upd.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})
        mapping = m.get("column_mapping")
        if mapping:
            added = [
                f.name
                for f in upd.schema.fields
                if f.name not in schema.fieldNames()
            ]
            mapping = _extend_mapping(_ensure_mapping(m), added)
        if m.get("constraints"):
            _enforce_constraints(upd, schema, m["constraints"])
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        key_df = upd.select(*keys).distinct()
        keep, rewritten_rel = list(m["files"]), []
        rewritten_entries: list = []
        new_files: list[dict] = []
        if m["files"]:
            df = _read_entries(spark, path, m, m["files"], keep_meta=True)
            hits = df.join(F.broadcast(key_df), list(keys), "left_semi")
            hit_rel = {
                r.f
                for r in hits.select(F.col(_DV_FILE).alias("f"))
                .distinct()
                .collect()
            }
            rewritten_entries = [
                e for e in m["files"] if _entry_rel(e) in hit_rel
            ]
            rewritten_rel = _paths(rewritten_entries)
            keep = [e for e in m["files"] if _entry_rel(e) not in hit_rel]
            if rewritten_entries:
                survivors = _read_entries(
                    spark, path, m, rewritten_entries
                ).join(F.broadcast(key_df), list(keys), "left_anti")
                new_files += _stamp_spec(
                    _write_data_files(
                        survivors, path, part_by, bl_cols, mapping
                    )[0],
                    m,
                )
        update_entries, n_up = _write_data_files(
            upd, path, part_by, bl_cols, mapping
        )
        new_files += _stamp_spec(update_entries, m)
        version = latest + 1
        manifest = {
            "version": version,
            "op": "merge",
            "ts": time.time(),
            "files": keep + new_files,
            "schema": merged_schema.jsonValue(),
            "n_rows_delta": n_up,
            "rewrote_files": rewritten_rel,
            # which appended files hold the UPDATE rows, and the merge
            # keys — what lake_read_cdf needs to derive row-level
            # delete+insert events from this commit
            "merge_keys": list(keys),
            "update_files": _paths(update_entries),
        }
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if m.get("dvs"):
            manifest["dvs"] = m["dvs"]  # kept files still need theirs
        if part_by:
            manifest["partition_by"] = list(part_by)
        if m.get("partition_specs"):
            manifest["partition_specs"] = m["partition_specs"]
        if bl_cols:
            manifest["bloom_cols"] = list(bl_cols)
        if mapping:
            manifest["column_mapping"] = mapping
        return _classified_commit(
            path, manifest, m,
            read_rels=set(rewritten_rel), append_safe=False,
        )

    return _retry_cow("merge", path, once)


def lake_merge_insert_only(
    spark: SparkSession, updates: DataFrame, path: str, keys: tuple[str, ...]
) -> int:
    """MERGE ... WHEN NOT MATCHED THEN INSERT * (and nothing on
    match): append exactly the update rows whose key is ABSENT from
    the table — idempotent ingestion (re-delivering a batch inserts
    nothing the second time), the reference's ON CONFLICT DO NOTHING
    (src/load/load_to_postgis.py upsert-ignore) lifted to the lake.

    The existing-key probe is one table scan semi-joined against the
    broadcast update keys (the same bounded shape lake_merge uses);
    the commit is a plain append (op 'append' — the change feed and
    incremental readers see it as the insert it is). The probe and
    the commit run inside the optimistic retry TOGETHER: losing the
    version race re-probes from the winner's snapshot, so a
    concurrent writer inserting the same key can never slip a
    duplicate between our anti-join and our commit (the
    WriteSerializable hazard a bare lake_write append would have)."""

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            return lake_write(updates, path)
        m = _read_manifest(path, latest)
        schema = T.StructType.fromJson(m["schema"])
        merged_schema, casts = _evolve_schema(schema, updates.schema)
        upd = updates
        if casts:
            upd = upd.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})
        if m.get("constraints"):
            _enforce_constraints(upd, schema, m["constraints"])
        mapping = m.get("column_mapping")
        if mapping:
            added = [
                f.name for f in upd.schema.fields
                if f.name not in schema.fieldNames()
            ]
            mapping = _extend_mapping(_ensure_mapping(m), added)
        key_df = upd.select(*keys).distinct()
        new_rows = upd
        if m["files"]:
            existing = (
                _read_entries(spark, path, m, m["files"])
                .join(F.broadcast(key_df), list(keys), "left_semi")
                .select(*keys)
                .distinct()
            )
            new_rows = upd.join(F.broadcast(existing), list(keys), "left_anti")
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        entries, n = _write_data_files(new_rows, path, part_by, bl_cols, mapping)
        if n == 0:
            return latest  # every key already present: no snapshot
        _stamp_spec(entries, m)
        version = latest + 1
        manifest = {
            "version": version,
            "op": "append",
            "ts": time.time(),
            "files": list(m["files"]) + entries,
            "schema": merged_schema.jsonValue(),
            "n_rows_delta": n,
            "properties": {"merge": "insert_only", "merge_keys": list(keys)},
        }
        for k in ("partition_by", "partition_specs", "bloom_cols", "constraints", "dvs"):
            if m.get(k):
                manifest[k] = m[k]
        if mapping:
            manifest["column_mapping"] = mapping
        _commit(path, version, manifest)
        return version

    return _retry_cow("merge-insert-only", path, once)


def lake_update(
    spark: SparkSession,
    path: str,
    assignments: dict,
    predicate,
    properties: dict | None = None,
    strategy: str = "cow",
    isolation: str = "write_serializable",
) -> int:
    """UPDATE ... SET ... WHERE ... as ONE atomic snapshot; returns
    the new version (an UPDATE matching nothing publishes none). Two
    strategies, the same pair lake_delete offers:

    - `"cow"` (copy-on-write, default): files containing rows whose
      predicate is TRUE are rewritten — unmatched rows carried over
      verbatim, matched rows re-emitted with `assignments` applied
      (each value a Column or SQL expression string, cast back to the
      column's declared type); every other file carries over
      untouched. Cost is O(hit-file bytes): right when updates are
      clustered or bulk.
    - `"mor"` (merge-on-read): NO file is rewritten. The matched
      rows' (file, row-ordinal) addresses land as a deletion-vector
      set hiding the OLD row versions, and the NEW row versions
      append as postimage files — one commit, cost O(matched rows),
      not O(hit-file bytes). At 100 TB, updating 0.1% of rows
      scattered across every file stops being a full-table rewrite
      (the Delta DV-update / Iceberg v2 MoR design). Read
      amplification is the DV anti-join until the next COMPACT /
      lake_maintain materializes the debt — the same contract as
      dv-delete.

    CHANGE-FEED fidelity at O(delta) under BOTH strategies: the
    matched rows' addresses are recorded on the commit as
    `update_preimage_dv`. lake_read_cdf recovers the pre-update rows
    by semi-joining the old files (still on disk until vacuum; under
    MoR still live) against those addresses and emits
    delete(preimage) + insert(postimage) pairs — Delta CDF's
    update_preimage/update_postimage, folded into the multiset
    compose rule snapshot(from) + inserts − deletes == snapshot(to).
    Only the touched files are ever read.

    NULL predicates mean NOT MATCHED (SQL three-valued logic);
    updating a partition column moves rows between partition dirs
    (the writer derives the layout per row). Conflicts with concurrent
    commits re-run from the winner's snapshot (_retry_cow)."""
    if strategy not in ("cow", "mor"):
        raise ValueError(f"unknown update strategy {strategy!r}")
    if isolation not in ("write_serializable", "serializable"):
        raise ValueError(f"unknown isolation {isolation!r}")
    append_safe = isolation == "write_serializable"
    predicate = (
        F.expr(predicate) if isinstance(predicate, str) else predicate
    )
    cond = F.coalesce(predicate.cast("boolean"), F.lit(False))
    exprs = {
        c: (F.expr(v) if isinstance(v, str) else v)
        for c, v in assignments.items()
    }
    if not exprs:
        raise ValueError("UPDATE needs at least one SET assignment")

    def _prepare(m: dict):
        """Shared validation + matched-address landing: returns
        (schema, pre_rel, hit file rels) — pre_rel None when nothing
        matched (the preimage parquet is already cleaned up)."""
        schema = T.StructType.fromJson(m["schema"])
        unknown = set(exprs) - set(schema.fieldNames())
        if unknown:
            raise ValueError(f"UPDATE SET on unknown columns {sorted(unknown)}")
        clash = {_DV_FILE, _DV_POS} & set(schema.fieldNames())
        if clash:
            raise ValueError(
                f"table uses reserved DV column names {sorted(clash)}"
            )
        if not m["files"]:
            return schema, None, set()
        # one visible-row scan finds the matched addresses; landing
        # them as parquet makes the hit-file list and the CDF preimage
        # readable without a second table scan
        df = _read_entries(spark, path, m, m["files"], keep_meta=True)
        pre_rel = os.path.join("dv", "pre-" + uuid.uuid4().hex[:12])
        df.filter(cond).select(_DV_FILE, _DV_POS).write.mode("error").parquet(
            os.path.join(path, pre_rel)
        )
        hit_rel = _dv_files_touched(path, [pre_rel])
        if not hit_rel:
            shutil.rmtree(os.path.join(path, pre_rel), ignore_errors=True)
            return schema, None, hit_rel
        return schema, pre_rel, hit_rel

    def once_mor() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema, pre_rel, hit_rel = _prepare(m)
        if pre_rel is None:
            return latest  # nothing matched: no new snapshot needed
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        mapping = m.get("column_mapping")
        # postimage: re-read ONLY the hit files' matched rows (exact —
        # a semi-join against the landed addresses, not a re-filter),
        # apply SET, append as new files. Old row versions stay in
        # place, hidden by the preimage addresses joining the
        # snapshot's DV list.
        hit_entries = [e for e in m["files"] if _entry_rel(e) in hit_rel]
        sub = _read_entries(spark, path, m, hit_entries, keep_meta=True)
        pre = spark.read.schema(_DV_SCHEMA).parquet(os.path.join(path, pre_rel))
        if _dv_rows(path, [pre_rel]) <= _DV_BROADCAST_MAX_ROWS:
            pre = F.broadcast(pre)
        types = {f.name: f.dataType for f in schema.fields}
        changed = (
            sub.join(pre, [_DV_FILE, _DV_POS], "left_semi")
            .withColumns({c: e.cast(types[c]) for c, e in exprs.items()})
            .select(*[f.name for f in schema.fields])
        )
        if m.get("constraints"):
            _enforce_constraints(changed, schema, m["constraints"])
        update_files = _stamp_spec(
            _write_data_files(changed, path, part_by, bl_cols, mapping)[0], m
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "update",
            "strategy": "mor",
            "ts": time.time(),
            "files": list(m["files"]) + update_files,
            "schema": m["schema"],
            "n_rows_delta": 0,
            "rewrote_files": [],
            "update_files": _paths(update_files),
            "update_preimage_dv": pre_rel,
            "dvs": list(m.get("dvs") or []) + [pre_rel],
        }
        if properties:
            manifest["properties"] = dict(properties)
        for k in ("partition_by", "partition_specs", "bloom_cols",
                  "constraints", "column_mapping"):
            if m.get(k):
                manifest[k] = (
                    list(m[k]) if isinstance(m[k], list) else m[k]
                )
        return _classified_commit(
            path, manifest, m, read_rels=set(hit_rel), append_safe=append_safe
        )

    if strategy == "mor":
        return _retry_cow("update-mor", path, once_mor)

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        schema, pre_rel, hit_rel = _prepare(m)
        if pre_rel is None:
            return latest  # nothing matched: no new snapshot needed
        rewritten = [e for e in m["files"] if _entry_rel(e) in hit_rel]
        keep = [e for e in m["files"] if _entry_rel(e) not in hit_rel]
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        mapping = m.get("column_mapping")
        sub = _read_entries(spark, path, m, rewritten)
        # matched rows: SET applied, cast back to the declared type so
        # the file schema never drifts (widen explicitly instead)
        types = {f.name: f.dataType for f in schema.fields}
        changed = sub.filter(cond).withColumns(
            {c: e.cast(types[c]) for c, e in exprs.items()}
        )
        if m.get("constraints"):
            _enforce_constraints(changed, schema, m["constraints"])
        update_files = _stamp_spec(
            _write_data_files(changed, path, part_by, bl_cols, mapping)[0], m
        )
        carry = sub.filter(~cond)
        new_files = update_files + _stamp_spec(
            _write_data_files(carry, path, part_by, bl_cols, mapping)[0], m
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "update",
            "ts": time.time(),
            "files": keep + new_files,
            "schema": m["schema"],
            "n_rows_delta": 0,
            "rewrote_files": _paths(rewritten),
            "update_files": _paths(update_files),
            "update_preimage_dv": pre_rel,
        }
        if properties:
            manifest["properties"] = dict(properties)
        for k in ("partition_by", "partition_specs", "bloom_cols",
                  "constraints", "column_mapping", "dvs"):
            if m.get(k):
                manifest[k] = (
                    list(m[k]) if isinstance(m[k], list) else m[k]
                )
        return _classified_commit(
            path, manifest, m, read_rels=set(hit_rel), append_safe=append_safe
        )

    return _retry_cow("update", path, once)


def _zorder_key(df: DataFrame, cols: tuple[str, ...]) -> "F.Column":
    """Morton (Z-order) interleave of the given NUMERIC columns as a
    bigint sort key. Each column is quantized to a 2^b uniform grid
    between its global min and max (one agg over the rows being
    rewritten — compaction reads them anyway), then bit i of every
    column's cell lands at position i*n_cols + col_idx. Files cut
    along this key get TIGHT min/max ranges on ALL the z-ordered
    columns at once, so manifest-stats skipping prunes multi-column
    predicates that a single-column sort can only prune on its
    leading column (Delta's OPTIMIZE ZORDER BY). Uniform (not rank)
    quantization: cheap, codegen-friendly, and file-size balance
    comes from repartitionByRange's sampling, not the grid."""
    for c in cols:
        if not isinstance(
            df.schema[c].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
             T.FloatType, T.DoubleType),
        ):
            raise ValueError(f"zorder_by column {c!r} must be numeric")
    n = len(cols)
    b = min(16, 62 // n)  # bits per column; key stays in a signed long
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    cells = []
    for c in cols:
        mn, mx = stats[f"mn_{c}"], stats[f"mx_{c}"]
        if mn is None or mx is None or float(mx) == float(mn):
            cells.append(F.lit(0).cast("bigint"))
            continue
        cell = (
            F.width_bucket(
                F.col(c).cast("double"),
                F.lit(float(mn)), F.lit(float(mx)), F.lit(2**b),
            )
            - 1
        )
        # nulls sort to cell 0; width_bucket's inclusive-max overflow
        # bucket (2^b + 1) clamps back to the top cell
        cell = F.least(
            F.greatest(F.coalesce(cell, F.lit(0)), F.lit(0)),
            F.lit(2**b - 1),
        ).cast("bigint")
        cells.append(cell)
    key = F.lit(0).cast("bigint")
    for i in range(b):
        for ci, cell in enumerate(cells):
            key = key + F.shiftleft(
                F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * n + ci
            )
    return key


def lake_compact(
    spark: SparkSession,
    path: str,
    num_files: int = 1,
    zorder_by: tuple[str, ...] = (),
    where: list[tuple] | None = None,
    paths: tuple[str, ...] | None = None,
) -> int:
    """Rewrite the live file set into `num_files` files (same rows,
    one new snapshot). Old snapshots keep referencing the old files —
    time travel is unaffected until vacuum. Deletion vectors are
    MATERIALIZED here: the rewrite reads visible rows only, so the
    new snapshot carries no `dvs` for the rewritten files and reads
    go back to plain scans (the merge-on-read maintenance contract).

    `zorder_by` CLUSTERS the rewrite on the Morton interleave of the
    named numeric columns (repartitionByRange on the z-key): each
    output file covers a compact hyper-rectangle, giving it tight
    per-file min/max on every z-ordered column, so lake_read's stats
    skipping prunes predicates on ANY of them — the multi-dimensional
    file-layout optimization (Delta OPTIMIZE ZORDER).

    `where` (same (col, op, val) conjunction as lake_read) makes the
    compaction PARTIAL: only the files that MAY match — by partition
    value, min/max stats, or bloom — are rewritten; every other file
    carries over untouched, with its DVs still applied on read. At
    100 TB this is the only compaction that exists: you OPTIMIZE the
    partitions a workload touches, never the table (Delta's OPTIMIZE
    WHERE). File-level granularity: a pruned-in file is rewritten
    WHOLE (rows are never split out of it), so the rewrite moves
    exactly the selected files' rows. Conflicts re-run from the
    winner's snapshot (compacting stale files would silently drop
    the winner's changes)."""

    def once() -> int:
        latest = _latest_version(path)
        if latest is None:
            raise FileNotFoundError(f"no manifest lake at {path}")
        m = _read_manifest(path, latest)
        part_by = tuple(m.get("partition_by") or ())
        bl_cols = tuple(m.get("bloom_cols") or ())
        if paths is not None:
            # explicit file selection (lake_maintain's shape): files
            # the winner of a lost race already rewrote simply drop
            # out of the selection on re-run — never compact stale
            want = set(paths)
            hit = [e for e in m["files"] if _entry_rel(e) in want]
            hit_rel = set(_paths(hit))
            keep = [e for e in m["files"] if _entry_rel(e) not in hit_rel]
        elif where:
            pw = _phys_where(where, m)
            specs = _partition_specs(m)
            hit = [
                e
                for e in m["files"]
                if _file_may_match(e, pw, _entry_part_by(e, specs))
            ]
            hit_rel = set(_paths(hit))
            keep = [e for e in m["files"] if _entry_rel(e) not in hit_rel]
        else:
            hit, keep = list(m["files"]), []
        if not hit:
            return latest  # nothing selected: no new snapshot needed
        df = _read_entries(spark, path, m, hit)
        if zorder_by:
            df = (
                df.withColumn("__zkey", _zorder_key(df, tuple(zorder_by)))
                .repartitionByRange(num_files, "__zkey")
                .drop("__zkey")
            )
        else:
            df = df.coalesce(num_files)
        files = _stamp_spec(
            _write_data_files(df, path, part_by, bl_cols, m.get("column_mapping"))[0],
            m,
        )
        version = latest + 1
        manifest = {
            "version": version,
            "op": "compact",
            "ts": time.time(),
            "files": keep + files,
            "schema": m["schema"],
            "n_rows_delta": 0,
            "rewrote_files": _paths(hit),
        }
        if keep and m.get("dvs"):
            # partial compact: kept files still need their DV rows —
            # but a DV dir whose EVERY addressed file is being
            # rewritten here (or already left the file list) is fully
            # dangling after this commit, so drop it: the read-side
            # anti-join relation SHRINKS with maintenance instead of
            # accumulating dangling rows forever (the bounded
            # read-amplification contract; per-dir pyarrow check is
            # O(DV debt) driver work at maintenance time)
            live_keep = {_entry_rel(e) for e in keep}
            kept_dvs = [
                d for d in m["dvs"]
                if _dv_files_touched(path, [d]) & live_keep
            ]
            if kept_dvs:
                manifest["dvs"] = kept_dvs
        if m.get("constraints"):
            manifest["constraints"] = m["constraints"]
        if m.get("column_mapping"):
            manifest["column_mapping"] = m["column_mapping"]
        if zorder_by:
            manifest["zorder_by"] = list(zorder_by)
        if part_by:
            manifest["partition_by"] = list(part_by)
        if m.get("partition_specs"):
            manifest["partition_specs"] = m["partition_specs"]
        if bl_cols:
            manifest["bloom_cols"] = list(bl_cols)
        return _classified_commit(
            path, manifest, m, read_rels=set(_paths(hit)), append_safe=True
        )

    return _retry_cow("compact", path, once)


def lake_maintain(
    spark: SparkSession,
    path: str,
    max_files: int = 32,
    target_files: int = 4,
    small_bytes: int | None = None,
    max_dv_rows: int | None = _DV_BROADCAST_MAX_ROWS,
    migrate_spec: bool = False,
) -> list[int]:
    """Small-file + DV-debt maintenance policy — the post-commit hook
    a streaming drain needs: micro-batches append one small file per
    commit, and pruning selectivity (blooms, stats) degrades linearly
    with live-file count unless something compacts. For each
    PARTITION (the whole table when unpartitioned) whose small-file
    count exceeds `max_files`, compact exactly those files into
    `target_files` (file-pinned partial compaction: untouched
    partitions carry over byte-identical, their DVs still applied).
    `small_bytes` restricts the rewrite to files at or below that
    size, so a partition's one big compacted file isn't endlessly
    re-rewritten with every maintenance pass (write amplification is
    O(small files), the Delta OPTIMIZE contract).

    DV-DEBT drain: merge-on-read deletes/updates/merges accumulate
    deletion-vector rows that every read anti-joins; past
    `max_dv_rows` (default: the broadcast demotion threshold — beyond
    it reads pay a shuffled anti-join) the pass compacts exactly the
    LIVE files the debt addresses, which materializes their deletes
    AND drops the now-dangling DV dirs from the manifest
    (lake_compact's dangling-dir pruning) — read amplification is
    bounded by maintenance cadence, never unbounded. None disables.

    SPEC MIGRATION (`migrate_spec=True`): after a partition-spec
    evolution the table reads correctly forever with mixed
    populations, but only the CURRENT spec's layout serves the
    workload the evolution was made for — this drain compacts exactly
    the files still laid out under an OLD spec (lake_compact rewrites
    land under the current spec by construction), so the table
    converges to single-population at maintenance cadence instead of
    waiting for organic rewrites. Off by default: migration reads and
    rewrites real bytes, a deliberate operator decision at 100 TB.

    Returns the commit versions published (empty when nothing crossed
    a threshold — the common, free case). A maintenance pass racing a
    concurrent append re-runs from the winner's snapshot;
    already-rewritten files drop out of the pinned selection."""
    latest = _latest_version(path)
    if latest is None:
        return []
    m = _read_manifest(path, latest)
    out_dv: list[int] = []
    if migrate_spec and m.get("partition_specs"):
        cur = len(m["partition_specs"]) - 1
        stale = tuple(
            sorted(
                _entry_rel(e)
                for e in m["files"]
                if _entry_spec_id(e, cur + 1) != cur
            )
        )
        if stale:
            out_dv.append(
                lake_compact(spark, path, num_files=target_files, paths=stale)
            )
            m = _read_manifest(path, _latest_version(path))
    dvs = m.get("dvs") or []
    if dvs and max_dv_rows is not None and _dv_rows(path, dvs) > max_dv_rows:
        touched = _dv_files_touched(path, dvs)
        live = {_entry_rel(e) for e in m["files"]}
        sel = tuple(sorted(touched & live))
        if sel:
            out_dv.append(
                lake_compact(
                    spark, path, num_files=target_files, paths=sel
                )
            )
            m = _read_manifest(path, _latest_version(path))
    groups: dict[tuple, list] = {}
    for e in m["files"]:
        if not isinstance(e, dict):
            e = {"path": e}
        if small_bytes is not None and e.get("bytes", 0) > small_bytes:
            continue
        key = tuple(sorted((e.get("partitions") or {}).items()))
        groups.setdefault(key, []).append(e)
    out = list(out_dv)
    for key in sorted(groups):
        es = groups[key]
        if len(es) > max_files:
            out.append(
                lake_compact(
                    spark,
                    path,
                    num_files=target_files,
                    paths=tuple(_paths(es)),
                )
            )
    return out


def lake_vacuum(
    path: str,
    keep_last: int = 1,
    retention_seconds: float = DEFAULT_VACUUM_RETENTION,
    deep: bool = True,
) -> list[str]:
    """Drop all but the last `keep_last` versions' delta segments,
    then delete every data file no kept version references AND whose
    mtime is older than `retention_seconds`. Returns deleted files.

    Before dropping history, the oldest KEPT version is CHECKPOINTED —
    the anchor that keeps every surviving version reconstructible once
    the delta segments below it are gone; stale checkpoints below it
    are dropped with the segments.

    Orphan discovery is CHECKPOINT-DIFF-DRIVEN: candidates are the
    `add` entries (and DV sets) of exactly the delta segments being
    dropped, minus the files any kept version references — O(dropped
    deltas) + O(keep window), no filesystem tree walk, the only shape
    that works at 10^6 files. `deep=True` (default) ADDITIONALLY walks
    data/ and dv/ for files NO commit ever referenced — staged data
    from lost commit attempts, which a log diff cannot see; at 100 TB
    run the deep sweep rarely (it is the directory listing Delta's
    VACUUM also cannot avoid), the log-diff pass every time.

    The retention window is the concurrent-writer guard: a writer that
    has staged data files but not yet published its manifest — or one
    that commits between the kept-file scan and the deletion loop —
    holds files vacuum cannot see references to; deleting them would
    corrupt the about-to-commit snapshot (Delta's VACUUM retention,
    default 7 days there). Pass retention_seconds=0 only when no
    writer can be active (the destructive end of the lifecycle)."""
    latest = _latest_version(path)
    if latest is None:
        return []
    keep_from = max(0, latest - keep_last + 1)
    # anchor FIRST: kept versions must reconstruct after the drop
    if keep_from > 0:
        lake_checkpoint(path, keep_from)
    kept_files: set[str] = set()
    kept_dv_dirs: set[str] = set()
    # TAGGED snapshots below the keep window are anchors too: each
    # gets its own reconstruction checkpoint, keeps its delta segment
    # (the scalar state — schema, layout — lives there), and pins its
    # files/DVs. 'v-tagged-for-the-audit' stays readable for years
    # while the working history is vacuumed weekly.
    tagged: set[int] = set()
    for tv in sorted(set(lake_tags(path).values())):
        if tv < keep_from:
            tagged.add(tv)
            lake_checkpoint(path, tv)
            kept_files.update(_paths(_files_at(path, tv)))
            trec = _read_delta(path, tv)
            kept_dv_dirs.update(trec.get("dvs") or [])
            if trec.get("update_preimage_dv"):
                kept_dv_dirs.add(trec["update_preimage_dv"])
    entries = _files_at(path, keep_from)
    kept_files.update(_paths(entries))
    for v in range(keep_from, latest + 1):
        try:
            rec = _read_delta(path, v)
        except FileNotFoundError:
            continue
        if v > keep_from:
            if "files" in rec:
                entries = list(rec["files"])
            else:
                entries = _apply_delta(entries, rec)
            kept_files.update(_paths(entries))
        kept_dv_dirs.update(rec.get("dvs") or [])
        if rec.get("update_preimage_dv"):
            # CDF preimage addresses live beside the DVs and stay
            # readable exactly as long as their version's history does
            kept_dv_dirs.add(rec["update_preimage_dv"])
    # orphan candidates from the log being dropped (no tree walk)
    candidates: set[str] = set()
    cand_dv_dirs: set[str] = set()
    for v in range(keep_from):
        try:
            rec = _read_delta(path, v)
        except FileNotFoundError:
            continue
        candidates.update(_paths(rec.get("add") or rec.get("files") or []))
        cand_dv_dirs.update(rec.get("dvs") or [])
        if rec.get("update_preimage_dv"):
            cand_dv_dirs.add(rec["update_preimage_dv"])
    deleted = []
    cutoff = time.time() - retention_seconds

    def _rm(rel: str) -> None:
        if os.path.isabs(rel):
            return  # shallow-CLONE entry: the file belongs to the
            # SOURCE table — never collect outside our own root
        full = os.path.join(path, rel)
        try:
            if os.path.getmtime(full) <= cutoff:
                os.remove(full)
                deleted.append(rel)
        except OSError:
            pass  # already gone (idempotent re-vacuum)

    for rel in sorted(candidates - kept_files):
        _rm(rel)
    for dv_dir in sorted(cand_dv_dirs - kept_dv_dirs):
        if os.path.isabs(dv_dir):
            continue  # cloned DV set: lives in the source table
        for f in _parquet_files(os.path.join(path, dv_dir)):
            _rm(os.path.relpath(f, path))
    # drop the history: delta segments and checkpoints below keep_from
    # (tagged anchors keep both)
    for v in range(keep_from):
        if v in tagged:
            continue
        mf = os.path.join(_manifest_dir(path), f"v{v}.json")
        if os.path.exists(mf):
            os.remove(mf)
    for c in _ckpt_versions(path):
        if c < keep_from and c not in tagged:
            try:
                os.remove(_ckpt_file(path, c))
            except OSError:
                pass
    if keep_from > 0:
        _record_checkpoint(path, keep_from)  # re-validate the pointer
    if deep:
        # full sweep for never-referenced staged files (lost commit
        # attempts) — the one orphan class a log diff cannot list
        for f in _parquet_files(os.path.join(path, "data")):
            rel = os.path.relpath(f, path)
            if rel not in kept_files:
                _rm(rel)
        for f in _parquet_files(os.path.join(path, "dv")):
            rel = os.path.relpath(f, path)
            if os.sep.join(rel.split(os.sep)[:2]) not in kept_dv_dirs:
                _rm(rel)  # not a dv/<uuid> set any snapshot keeps
    return sorted(set(deleted))
