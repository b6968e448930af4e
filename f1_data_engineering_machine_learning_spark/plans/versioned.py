"""Versioned parquet tables: snapshot isolation, time travel, rollback,
and VACUUM on a plain filesystem — no table-format package required.

The reference's storage layer is Delta (overwrite+vacuum at
/root/reference/scripts/spark_ops.py:87-96, replaceWhere at :169-175),
and this container cannot install delta-spark (documented in
COVERAGE.md), so the Delta-gated branches in io.py have never EXECUTED
here. This module implements the same transactional semantics directly
over parquet + JSON manifests, so snapshot reads, time travel, atomic
overwrite, rollback, and vacuum all run and are tested in this repo —
and the protocol is the real thing, not a mock: it is the same
manifest-log design Delta/Iceberg use, scaled down.

Layout::

    <path>/data/part-<uuid>.parquet      immutable data files
    <path>/_manifests/v00000042.json     one manifest per version

A manifest lists the data files visible in that version (plus mode,
parent, row count). Readers resolve a version by listing manifests —
the table state is the MANIFEST, never the directory: half-written
data files are invisible until a manifest references them, so readers
get snapshot isolation for free and writers never block readers.

Commit protocol (optimistic concurrency, Delta-style):

1. write new data files under ``data/`` (uuid names — never clobber);
2. compute the next version number;
3. atomically CREATE ``v<N>.json`` with ``open(..., 'x')`` — the POSIX
   exclusive-create is the compare-and-swap: if another writer took N
   first, creation fails and the commit RETRIES against the new state
   (re-reading the parent manifest, so appends compose correctly).
   Every operation commits through this one loop, ``_commit_next``.

``rollback`` commits a NEW version whose file list is the old
version's — history is append-only, a rollback is itself time-travel-
able. ``vacuum`` deletes data files unreachable from the retained
manifests (and drops the pruned manifests), the same contract as
``VACUUM <table> RETAIN``: time travel works within the retention
window and not past it.

At 100 TB: manifests carry file NAMES (O(files), not O(rows)); commits
move metadata only (an overwrite of a petabyte table writes the new
files + one JSON). This is exactly why table formats win over
directory-swap at scale — and why `mode("overwrite")` on bare parquet
(delete-then-write, readers see torn state) is not the production
path.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def _jsonable(v):
    """Footer stat values as JSON-storable scalars (bytes -> utf-8 str,
    dates/timestamps -> isoformat)."""
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _span(s: dict | None, lo, hi) -> str:
    """Where a file's committed ``{"min", "max"}`` stat sits against
    [lo, hi]: "disjoint", "inside" or "overlap" (also for a file without
    stats: its range is unknown, so it cannot be excluded). The bounds
    go through the stats' own ``_jsonable`` form so the comparison is
    well-typed: date/timestamp stats are isoformat strings, and ISO-8601
    orders lexicographically."""
    lo, hi = _jsonable(lo), _jsonable(hi)
    if s is None:
        return "overlap"
    if s["max"] < lo or s["min"] > hi:
        return "disjoint"
    if s["min"] >= lo and s["max"] <= hi:
        return "inside"
    return "overlap"


def _schema_fields(schema_json: str) -> list[tuple[str, str]]:
    """Canonical (name, type) list of a StructType json — the identity
    append-mode schema enforcement compares (field ORDER is not part of
    table identity; parquet reads resolve columns by name)."""
    fields = json.loads(schema_json).get("fields", [])
    return sorted(
        (f["name"], json.dumps(f.get("type"), sort_keys=True)) for f in fields
    )


def _merge_schemas(parent_json: str, batch_json: str) -> str:
    """Delta ``mergeSchema`` semantics: the union of fields by name —
    parent columns first (their order is the table's), new batch columns
    appended. Same-name fields must agree on type (no up/down-casting:
    a type conflict is a real pipeline bug, rejected exactly as Delta
    rejects it); every merged field becomes nullable, because rows from
    files written before a column existed read as NULL."""
    parent = json.loads(parent_json)
    batch = json.loads(batch_json)
    ptypes = {
        f["name"]: json.dumps(f.get("type"), sort_keys=True)
        for f in parent.get("fields", [])
    }
    merged = [dict(f, nullable=True) for f in parent.get("fields", [])]
    for f in batch.get("fields", []):
        t = json.dumps(f.get("type"), sort_keys=True)
        if f["name"] in ptypes:
            if ptypes[f["name"]] != t:
                raise ValueError(
                    f"merge_schema type conflict on column {f['name']!r}: "
                    f"table has {ptypes[f['name']]}, batch has {t}"
                )
        else:
            merged.append(dict(f, nullable=True))
    out = dict(parent)
    out["fields"] = merged
    return json.dumps(out)


def _interleave(qcols: list, bits: int):
    """Morton key over quantized long columns: bit ``i`` of column ``j``
    lands at position ``i * n + j`` for ``n`` columns, so locality in the
    key implies locality in EVERY dimension. Pure JVM expression tree
    (shift/and/or per bit), whole-stage-codegen friendly."""
    n = len(qcols)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(qcols):
            bit = F.shiftright(q, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_key_ranked(cols: list[str], boundaries: list[list[float]]):
    """Rank-quantized Z-order key: each column's bucket id = how many of
    its equi-DEPTH boundaries the value exceeds (the
    ``equidepth_histogram`` tagging idiom — an ``F.aggregate`` fold over
    a literal boundary array, pure JVM), then bit-interleaved by
    :func:`_interleave`. This is the skew-proof arm: linear (min-max)
    quantization puts 90% of a heavy-tailed column's rows into one
    bucket — zero z-resolution exactly where the data lives — while
    rank boundaries give every bucket ~equal mass BY CONSTRUCTION, so
    file pruning stays effective in the dense region (measured in
    test_versioned). ``boundaries[i]`` must be sorted ascending; bucket
    count per column = len(boundaries[i]) + 1, and the bit budget is
    derived from it (clamped so the key fits a signed long). NULL -> 0."""
    n = len(cols)
    if n == 0 or len(boundaries) != n:
        raise ValueError("cols and boundaries must align")
    n_buckets = max(len(b) + 1 for b in boundaries)
    bits = max(1, min((n_buckets - 1).bit_length(), 62 // n))
    qcols = []
    for c, bnds in zip(cols, boundaries):
        if not bnds:
            qcols.append(F.lit(0).cast("long"))
            continue
        q = F.aggregate(
            F.array(*[F.lit(float(b)) for b in bnds]),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(F.col(c).cast("double") > b, 1).otherwise(0),
        )
        q = F.coalesce(q, F.lit(0)).cast("long")
        qcols.append(F.least(q, F.lit((1 << bits) - 1)))
    return _interleave(qcols, bits)


def zorder_key(cols: list[str], mins: list, maxs: list, bits: int = 16):
    """Z-order (Morton) key expression over numeric columns: each column
    linearly quantized to ``bits`` bits against its [min, max] (NULL ->
    0, constant column -> 0), then bit-INTERLEAVED by
    :func:`_interleave` — the multi-dimensional locality lexicographic
    sort lacks (it clusters only the leading column; trailing columns
    scatter across the whole file set). ``bits`` is clamped so the key
    fits a signed long. Reference semantics: Delta OPTIMIZE ZORDER BY
    (public Delta docs), re-expressed as a Spark column. Linear
    (min-max) quantization is the cheap arm: one agg supplies the
    bounds; heavy skew concentrates z-ranges the same way it
    concentrates values — :func:`zorder_key_ranked` is the skew-proof
    arm."""
    n = len(cols)
    if n == 0:
        raise ValueError("zorder_key needs at least one column")
    bits = max(1, min(bits, 62 // n))
    top = (1 << bits) - 1
    qcols = []
    for c, lo, hi in zip(cols, mins, maxs):
        lo_d = float(lo) if lo is not None else 0.0
        hi_d = float(hi) if hi is not None else 0.0
        span = hi_d - lo_d
        if span <= 0:
            qcols.append(F.lit(0).cast("long"))
            continue
        q = F.floor(
            (F.col(c).cast("double") - F.lit(lo_d)) / F.lit(span) * F.lit(float(top))
        ).cast("long")
        q = F.coalesce(q, F.lit(0))
        qcols.append(F.least(F.greatest(q, F.lit(0)), F.lit(top)))
    return _interleave(qcols, bits)


class ConcurrentCompactionError(RuntimeError):
    """A compaction's read snapshot was replaced mid-flight by a
    non-append commit (overwrite / rollback / another compaction).
    Committing anyway would resurrect replaced data, so the compaction
    aborts — Delta raises the analogous ConcurrentWriteException from
    OPTIMIZE. Safe to rerun against the current tip."""


@dataclass
class VersionInfo:
    version: int
    mode: str
    n_files: int
    n_rows: int
    parent: int | None
    ts: float


class VersionedTable:
    """A versioned parquet table rooted at ``path`` (local/shared fs;
    on object stores the exclusive-create CAS maps to the store's
    conditional-put)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._mdir = os.path.join(path, _MANIFEST_DIR)
        self._ddir = os.path.join(path, _DATA_DIR)

    # -- protocol internals -------------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self._mdir):
            return []
        out = []
        for f in os.listdir(self._mdir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def _manifest(self, version: int) -> dict:
        with open(os.path.join(self._mdir, f"v{version:08d}.json")) as fh:
            return json.load(fh)

    def _snapshot(self, version: int | None) -> dict:
        """The manifest of ``version`` (default: latest)."""
        versions = self._versions()
        if not versions:
            raise FileNotFoundError(f"no committed version at {self.path}")
        v = versions[-1] if version is None else version
        if v not in versions:
            raise FileNotFoundError(
                f"version {v} not found (have {versions[0]}..{versions[-1]}; "
                "it may have been vacuumed)"
            )
        return self._manifest(v)

    def _paths(self, names: list[str]) -> list[str]:
        return [os.path.join(self._ddir, f) for f in names]

    def _discard(self, names: list[str]) -> None:
        """Delete staged data files that no manifest will reference."""
        for p in self._paths(names):
            try:
                os.remove(p)
            except OSError:
                pass

    def _commit_next(self, make, staged: list[str] = ()) -> int:
        """The one commit path. Read the tip; ``make(parent,
        parent_manifest)`` returns the next version's ``mode``,
        ``files``, ``n_rows``, ``stats`` and ``schema`` (and ``txns``;
        by default the tip's per-app streaming high-water marks ride
        forward, because a maintenance commit must not reopen the
        exactly-once replay window — Delta keeps txn appId versions
        across every commit kind). Then exclusive-create ``v<N>.json``:
        a lost create retries ``make`` against the new tip, so appends
        compose. ``make`` returns None for a txn replay (the result is
        -1, nothing committed) or raises to abort; either way the
        ``staged`` data files are deleted."""
        os.makedirs(self._mdir, exist_ok=True)
        v = -1
        try:
            while True:
                versions = self._versions()
                parent = versions[-1] if versions else None
                pm = {} if parent is None else self._manifest(parent)
                body = make(parent, pm)
                if body is None:
                    return -1
                n = 0 if parent is None else parent + 1
                manifest = {
                    "version": n,
                    "txns": dict(pm.get("txns", {})),
                    **body,
                    "parent": parent,
                    "ts": time.time(),
                }
                try:
                    fh = open(os.path.join(self._mdir, f"v{n:08d}.json"), "x")
                except FileExistsError:
                    continue  # lost the CAS — recompute against the new tip
                v = n
                with fh:
                    json.dump(manifest, fh)
                return v
        finally:
            if v < 0:
                self._discard(staged)

    def _has_nulls(self, name: str, col: str) -> bool:
        """Whether data file ``name`` may hold NULLs in ``col``, from its
        parquet footer's null counts (unknown counts as yes)."""
        md = pq.ParquetFile(os.path.join(self._ddir, name)).metadata
        cols = [md.schema.column(i).name for i in range(md.num_columns)]
        if col not in cols:
            return True
        i = cols.index(col)
        for g in range(md.num_row_groups):
            s = md.row_group(g).column(i).statistics
            if s is None or not s.has_null_count or s.null_count:
                return True
        return False

    def _carry_or_rewrite(
        self, op, data, col, lo, hi, remainder, s_cols, drop_inside=False
    ) -> int:
        """The file-level commit of ``replace_where`` and ``merge_upsert``
        (``op``): stage ``data``, then against the tip's manifest carry
        files whose committed ``col`` range is disjoint from [lo, hi]
        over by NAME (metadata only — the 100 TB case: a daily reload
        rewrites one day's files, not the table); with ``drop_inside``,
        drop files wholly inside the range and free of NULL ``col``
        values; rewrite every other file (including files without
        stats) through ``remainder(df)``."""
        staged = self._write_data_files(data, s_cols)

        def make(parent, pm):
            if parent is None:
                raise FileNotFoundError(f"{op} needs a committed table")
            stats = pm.get("stats", {})
            keep, rewrite = [], []
            for f in pm["files"]:
                where = _span(stats.get(f, {}).get(col), lo, hi)
                if where == "disjoint":
                    keep.append(f)
                elif not (
                    drop_inside and where == "inside" and not self._has_nulls(f, col)
                ):
                    rewrite.append(f)
            rw = ([], 0, {})
            if rewrite:
                rw = self._write_data_files(
                    remainder(self.spark.read.parquet(*self._paths(rewrite))),
                    s_cols,
                )
            return {
                "mode": f"{op}:{col}",
                "files": keep + rw[0] + staged[0],
                "n_rows": self._kept_rows(keep, stats) + rw[1] + staged[1],
                "stats": {
                    **{f: stats[f] for f in keep if f in stats}, **rw[2], **staged[2]
                },
                "schema": pm.get("schema", data.schema.json()),
            }

        return self._commit_next(make, staged[0])

    def _write_data_files(
        self, df: DataFrame, stats_cols: list[str] | None = None
    ) -> tuple[list[str], int, dict]:
        """Write df as immutable uuid-named files; returns
        ``(names, rows, per_file_stats)``.

        Files land in a private staging dir first and are hard-renamed
        into ``data/`` — Spark owns its own output layout, the protocol
        owns the names. Row counts and per-file min/max column stats
        come from the PARQUET FOOTERS via pyarrow — zero extra Spark
        jobs, the same metadata Delta/Iceberg harvest at commit."""
        if stats_cols and "__rows" in stats_cols:
            # "__rows" is the manifest's reserved per-file row-count key
            # (below); a real column by that name in stats_cols would
            # clobber the count with a min/max dict and crash
            # _kept_rows later. Fail loudly at commit time instead.
            raise ValueError(
                "'__rows' is a reserved manifest key and cannot be a "
                "stats column; rename the column or drop it from "
                "stats_cols"
            )
        stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(stage)
        os.makedirs(self._ddir, exist_ok=True)
        names = []
        n_rows = 0
        stats: dict[str, dict] = {}
        for f in sorted(os.listdir(stage)):
            if not f.endswith(".parquet"):
                continue
            name = f"part-{uuid.uuid4().hex}.parquet"
            src = os.path.join(stage, f)
            md = pq.ParquetFile(src).metadata
            n_rows += md.num_rows
            # "__rows" (reserved key — never a real column) makes the
            # per-file row count part of the manifest, so maintenance
            # commits (replace_where / merge_upsert) can account for
            # carried-over files from METADATA instead of re-scanning
            # them — at 100 TB a daily slice reload must not count the
            # whole table to fill in n_rows.
            fstats: dict[str, object] = {"__rows": md.num_rows}
            if stats_cols:
                col_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
                for c in stats_cols:
                    if c not in col_idx:
                        continue
                    lo = hi = None
                    for rg in range(md.num_row_groups):
                        s = md.row_group(rg).column(col_idx[c]).statistics
                        if s is None or not s.has_min_max:
                            lo = hi = None
                            break
                        mn, mx = s.min, s.max
                        lo = mn if lo is None or mn < lo else lo
                        hi = mx if hi is None or mx > hi else hi
                    if lo is not None:
                        fstats[c] = {"min": _jsonable(lo), "max": _jsonable(hi)}
            stats[name] = fstats
            os.replace(src, os.path.join(self._ddir, name))
            names.append(name)
        shutil.rmtree(stage, ignore_errors=True)
        return names, n_rows, stats

    # -- public API ---------------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        stats_cols: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Commit ``df`` as a new version. ``overwrite`` replaces the
        visible file set; ``append`` adds to the parent's. Returns the
        committed version number. Safe under concurrent committers: the
        exclusive manifest create is the CAS, and a loser retries
        against the winner's state (appends compose; overwrites
        last-writer-win, both the Delta semantics).

        ``stats_cols``: harvest per-file min/max for these columns from
        the parquet footers into the manifest — the data-skipping index
        ``read(prune=...)`` consults. At 100 TB this is the difference
        between listing-then-opening every file and touching only the
        files whose range can match.

        ``txn=(app_id, batch_id)``: transactional idempotence for
        streaming sinks (Delta's txn/appId protocol): the manifest
        records the high-water batch id per app, and a commit at or
        below it is a REPLAY — it cleans up its files and returns -1
        without changing the table. This is what upgrades foreachBatch
        from at-least-once to exactly-once (``stream_to_versioned``).

        ``merge_schema``: Delta's ``mergeSchema`` for appends — a batch
        whose columns are a superset/subset of the table's WIDENS the
        table schema to the union (new columns appended, everything
        nullable; earlier files' rows read NULL for columns that did
        not exist yet). Same-name-different-type still fails, exactly
        as Delta rejects it. Default off: the strict-append contract
        stays the default because silent widening hides producer bugs."""
        if mode not in ("overwrite", "append"):
            raise ValueError("mode must be 'overwrite' or 'append'")
        names, n_rows, stats = self._write_data_files(df, stats_cols)
        batch_schema = df.schema.json()

        def make(parent, pm):
            body = {"mode": mode, "files": names, "n_rows": n_rows, "stats": stats}
            schema_json = batch_schema
            if mode == "append" and parent is not None:
                body["files"] = pm["files"] + names
                body["n_rows"] = pm["n_rows"] + n_rows
                body["stats"] = {**pm.get("stats", {}), **stats}
                # schema enforcement (Delta semantics): an append must
                # match the TABLE schema, and the manifest keeps carrying
                # the parent's schema — an append never silently flips
                # the stored schema that empty-prune reads later
                # materialize. Only overwrite may evolve.
                parent_schema = pm.get("schema") or batch_schema
                if _schema_fields(parent_schema) == _schema_fields(batch_schema):
                    schema_json = parent_schema
                elif merge_schema:
                    schema_json = _merge_schemas(parent_schema, batch_schema)
                else:
                    raise ValueError(
                        "append schema mismatch: table has "
                        f"{_schema_fields(parent_schema)}, batch has "
                        f"{_schema_fields(batch_schema)}; use "
                        "mode='overwrite' to evolve the schema, or "
                        "merge_schema=True to widen it"
                    )
            body["schema"] = schema_json
            if txn is not None:
                app_id, batch_id = txn
                txns = dict(pm.get("txns", {}))
                if txns.get(app_id, -1) >= batch_id:
                    # this transaction already committed (a replayed
                    # micro-batch after a crash between sink write and
                    # checkpoint commit): change nothing
                    return None
                txns[app_id] = batch_id
                body["txns"] = txns
            return body

        return self._commit_next(make, names)

    def read(
        self,
        version: int | None = None,
        prune: tuple[str, object, object] | None = None,
    ) -> DataFrame:
        """Snapshot read of ``version`` (default: latest). Reads ONLY
        the manifest's file list — uncommitted files are invisible.

        ``prune=(col, lo, hi)``: manifest-level data skipping — only
        files whose committed [min, max] range for ``col`` intersects
        [lo, hi] enter the scan (files without stats are conservatively
        kept). This prunes at FILE LISTING, before parquet footers are
        even opened; the caller still applies the row-level filter
        (skipping is a superset guarantee, same as Delta/Iceberg)."""
        m = self._snapshot(version)
        files = self._pruned(m, prune)
        sj = m.get("schema")
        schema = None if sj is None else StructType.fromJson(json.loads(sj))
        if files:
            # read under the MANIFEST schema, not footer inference: after
            # a merge_schema append the visible files are heterogeneous,
            # and the explicit schema makes files predating a column
            # yield NULL for it (parquet resolves columns by name) while
            # also skipping the multi-footer schema reconciliation.
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            return reader.parquet(*self._paths(files))
        # empty result must still carry the TABLE schema so the caller's
        # documented row-level re-filter resolves columns: prefer the
        # schema recorded at commit; else derive it from the full
        # (unpruned) file list with a zero-row limit
        if schema is not None:
            return self.spark.createDataFrame([], schema)
        if m["files"]:
            return self.spark.read.parquet(*self._paths(m["files"])).limit(0)
        return self.spark.createDataFrame([], "dummy string").limit(0)

    @staticmethod
    def _pruned(m: dict, prune: tuple[str, object, object] | None) -> list[str]:
        """The files of manifest ``m`` a ``prune=(col, lo, hi)`` keeps."""
        if prune is None:
            return m["files"]
        col, lo, hi = prune
        stats = m.get("stats", {})
        return [
            f
            for f in m["files"]
            if _span(stats.get(f, {}).get(col), lo, hi) != "disjoint"
        ]

    def pruned_file_count(
        self, version: int | None, prune: tuple[str, object, object]
    ) -> tuple[int, int]:
        """(files selected, files total) for a prune predicate — the
        observable skipping ratio (test/ops hook)."""
        m = self._snapshot(version)
        return len(self._pruned(m, prune)), len(m["files"])

    def _kept_rows(self, keep: list, stats: dict) -> int:
        """Row total of carried-over files, from manifest metadata when
        every file carries the "__rows" footer count, falling back to one
        Spark count for manifests written before files carried it —
        maintenance commits must not re-scan untouched data at 100 TB
        just to fill in ``n_rows``."""
        if not keep:
            return 0
        rows = [stats.get(f, {}).get("__rows") for f in keep]
        if all(r is not None for r in rows):
            return sum(rows)
        return self.spark.read.parquet(*self._paths(keep)).count()

    def replace_where(
        self,
        df: DataFrame,
        col: str,
        lo,
        hi,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Delta's ``replaceWhere`` semantic: atomically delete every
        row with ``col`` in [lo, hi] and insert ``df`` (whose rows must
        all satisfy the predicate — enforced) — the idempotent
        partition-slice reload pattern (S9). File-level resolution
        against the manifest stats:

        - files whose committed range is DISJOINT from [lo, hi] carry
          over untouched (metadata only — the 100 TB case: a daily
          reload rewrites one day's files, not the table);
        - files fully INSIDE the range are dropped (unless their footer
          shows NULL ``col`` values);
        - straddling files (or files without stats) are REWRITTEN
          minus their in-range rows.

        A NULL ``col`` does not match the predicate (Delta semantics):
        NULL-keyed table rows are kept and NULL-keyed ``df`` rows are
        rejected. The commit retries through the one CAS loop; a lost
        race recomputes the file partition against the new tip."""
        c = F.col(col)
        outside = c.isNull() | (c < F.lit(lo)) | (c > F.lit(hi))
        bad = df.filter(outside).count()
        if bad:
            raise ValueError(
                f"replace_where: {bad} rows fall outside [{lo}, {hi}]"
            )
        return self._carry_or_rewrite(
            "replace_where", df, col, lo, hi, lambda d: d.filter(outside),
            stats_cols if stats_cols is not None else [col], drop_inside=True,
        )

    def merge_upsert(
        self,
        batch: DataFrame,
        key: str,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Delta's ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT``
        for whole rows, keyed on ``key`` — the upsert that completes the
        replaceWhere/VACUUM/MERGE triad (S9/S10 family). File-level
        resolution: only files whose committed ``key`` range intersects
        the batch's [min, max] are rewritten (their rows anti-joined
        against the batch's keys); disjoint files carry over by name.
        The batch must be unique per key (enforced — a MERGE with
        duplicate source keys is ambiguous, the same error Delta
        raises)."""
        dup = (
            batch.groupBy(key).agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .count()
        )
        if dup:
            raise ValueError(f"merge_upsert: {dup} duplicate source keys")
        lohi = batch.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).first()
        keys = batch.select(key)
        return self._carry_or_rewrite(
            "merge_upsert", batch, key, lohi.lo, lohi.hi,
            lambda d: d.join(keys, key, "left_anti"),
            stats_cols if stats_cols is not None else [key],
        )

    def compact(
        self,
        num_files: int = 1,
        stats_cols: list[str] | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_quantize: str = "linear",
    ) -> int:
        """Delta OPTIMIZE-style small-file compaction: rewrite the
        CURRENT snapshot into ``num_files`` files and commit it as a new
        overwrite version — row-identical data behind fewer, larger
        files (streaming sinks accrete one file set per micro-batch;
        scan cost follows file count long before it follows bytes). The
        txn high-water table rides the parent manifest into the new
        version, so exactly-once replay protection survives compaction;
        old versions stay time-travelable until ``vacuum`` reclaims
        them. ``stats_cols`` re-harvests min/max skipping stats for the
        rewritten files (compaction is the natural moment — one big
        sorted-ish file per range prunes far better than micro-batch
        shards).

        ``sort_by``: range-sorted layout (the Spark-first analogue of
        Delta's OPTIMIZE ZORDER for the leading-column case):
        ``repartitionByRange`` + ``sortWithinPartitions`` on these
        columns gives the rewritten files DISJOINT value ranges, so a
        ``read(prune=...)`` point/range lookup afterwards touches ~1 of
        ``num_files`` files instead of all of them; pair it with
        ``stats_cols`` on the same leading column so the manifest index
        reflects the new layout.

        ``zorder_by``: MULTI-dimensional clustering (Delta's OPTIMIZE
        ZORDER BY proper): rows are laid out along the Morton curve of
        the named columns (:func:`zorder_key` — per-column min/max from
        one agg pass, linear quantization, bit interleave), so the
        rewritten files hold z-contiguous blocks whose min/max stats are
        TIGHT ON EVERY z-ordered column — a range predicate on ANY of
        them prunes files, where lexicographic ``sort_by`` prunes only
        its leading column (trailing columns span every file). Mutually
        exclusive with ``sort_by``; pair with ``stats_cols`` over the
        same columns. The z key is a transient column — computed for the
        exchange + in-file sort, dropped before write. STRING columns
        are supported via a lex-sorted dictionary-rank surrogate
        (broadcast-joined dense rank while <= 65,536 distinct values;
        above that, sampled lex-quantile boundaries — 256 equi-depth
        buckets from a deterministic hash-ordered sample, no full
        dictionary): either way files hold contiguous lexicographic
        ranges of the string column, which is exactly the form the
        manifest's min/max skipping prunes — the (lang, score) /
        (source, day) / (url_host, day) clustering shape of a
        training-data lake. NULL strings take sentinel rank -1, so
        NULL-keyed rows collapse deterministically into the z-low
        files. DATE / TIMESTAMP columns z-order through an
        order-preserving epoch surrogate (``unix_date`` /
        ``unix_micros``, pure JVM); NULL dates keep the quantizer's
        NULL->bucket-0 semantics and isoformat manifest stats prune the
        original column unchanged.

        ``zorder_quantize``: ``"linear"`` (default — one min/max agg,
        right for roughly-uniform columns) or ``"rank"`` — per-column
        equi-depth boundaries at 256 quantiles
        (``dataops/quality.py::exact_percentiles``, adaptive map/rank
        routing) fed to :func:`zorder_key_ranked`, so every bucket holds
        ~equal mass. Choose rank for heavy-tailed columns: linear
        quantization collapses 90% of a skewed column into one bucket
        and the z key loses resolution exactly where the data (and the
        queries) live.

        CONCURRENCY (Delta OPTIMIZE resolution): compaction rewrites
        the files of the snapshot it READ. An append that lands between
        the read and the commit only ADDS files, so it composes — the
        compacted manifest carries the rewritten base files plus every
        file appended after the base version, and the interleaved
        writer's rows survive (pinned by the race test). An interleaved
        OVERWRITE / rollback / second compaction makes the read
        snapshot obsolete; compaction then ABORTS with
        ``ConcurrentCompactionError`` (its data files are cleaned up)
        rather than resurrecting replaced data — rerun it against the
        new tip. txn high-waters always ride the TIP manifest, so
        exactly-once replay protection never travels backwards."""
        if num_files < 1:
            raise ValueError("num_files must be >= 1")
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        if zorder_quantize != "linear" and not zorder_by:
            raise ValueError("zorder_quantize requires zorder_by")
        base_m = self._snapshot(None)
        base = base_m["version"]
        df = self.read(version=base)
        if zorder_quantize not in ("linear", "rank"):
            raise ValueError("zorder_quantize must be 'linear' or 'rank'")
        if zorder_by:
            # STRING z-order columns get a dictionary-rank surrogate:
            # the cast-to-double inside the z key would quantize every
            # string to bucket 0 (silent zero z-resolution). A
            # lex-sorted distinct dictionary broadcast-joins a dense
            # rank column in, so files end up holding CONTIGUOUS LEX
            # RANGES of the string column — exactly what the manifest's
            # lexicographic min/max skipping prunes on (hash buckets
            # would cluster but leave min/max spanning the alphabet).
            # Bounded: categorical clustering columns (lang, source,
            # split) are low-cardinality by nature; beyond the cap,
            # cluster on a numeric surrogate instead.
            orig_cols = list(df.columns)
            dtypes = dict(df.dtypes)
            eff_zorder = list(zorder_by)
            surrogates: list[str] = []
            for zi, zc in enumerate(eff_zorder):
                dt = dtypes.get(zc)
                sname = f"__zdict_{zi}"
                # DATE/TIMESTAMP z-order columns: the (source,
                # day) layout is THE canonical lake clustering shape, but
                # date types don't cast to double for the quantizer —
                # attach the order-preserving epoch surrogate instead
                # (days / microseconds since epoch, pure JVM). NULLs keep
                # zorder_key's existing NULL->bucket-0 semantics; manifest
                # min/max pruning on the original column is unaffected
                # (isoformat strings compare in date order).
                if dt == "date":
                    df = df.withColumn(sname, F.unix_date(F.col(zc)))
                    surrogates.append(sname)
                    eff_zorder[zi] = sname
                    continue
                if dt is not None and dt.startswith("timestamp"):
                    df = df.withColumn(
                        sname, F.unix_micros(F.col(zc).cast("timestamp"))
                    )
                    surrogates.append(sname)
                    eff_zorder[zi] = sname
                    continue
                if dt != "string":
                    continue
                cap = 65_536
                vals = [
                    r[0]
                    for r in df.select(zc)
                    .filter(F.col(zc).isNotNull())
                    .distinct()
                    .orderBy(zc)
                    .limit(cap + 1)
                    .collect()
                ]
                if len(vals) > cap:
                    # HIGH-CARDINALITY FALLBACK: above the
                    # exact-dictionary cap (URL hosts, doc sources at
                    # 100 TB), rank by SAMPLED LEX QUANTILES instead of
                    # erroring — same contiguous-lex-range file layout,
                    # no full dictionary. A deterministic hash-ordered
                    # top-k (bounded driver collect, 64k rows; in-sample
                    # multiplicity tracks row frequency, so boundaries
                    # approximate equi-DEPTH cuts) yields up to 255
                    # boundary strings; the surrogate is the per-row
                    # boundary count via the same F.aggregate fold
                    # zorder_key_ranked uses — constant expression
                    # size, pure JVM, 256 buckets of ~equal mass. Files
                    # still hold contiguous lex ranges (bucket order IS
                    # lex order), which manifest min/max skipping
                    # prunes; resolution is 256 buckets rather than
                    # exact ranks — ample next to any realistic
                    # num_files.
                    samp = sorted(
                        r[0]
                        for r in df.select(zc)
                        .filter(F.col(zc).isNotNull())
                        .orderBy(F.xxhash64(F.col(zc)), F.col(zc))
                        .limit(cap)
                        .collect()
                    )
                    n_b = 255
                    bnds = sorted(
                        {
                            samp[(i + 1) * len(samp) // (n_b + 1)]
                            for i in range(n_b)
                        }
                    )
                    arr = F.array(*[F.lit(b) for b in bnds])
                    bucket = F.aggregate(
                        arr,
                        F.lit(0).cast("long"),
                        lambda acc, b: acc
                        + F.when(b <= F.col(zc), 1).otherwise(0),
                    )
                    df = df.withColumn(
                        sname,
                        F.when(F.col(zc).isNull(), F.lit(-1)).otherwise(
                            bucket
                        ),
                    )
                else:
                    dim = df.sparkSession.createDataFrame(
                        [(v, i) for i, v in enumerate(vals)],
                        f"{zc} string, {sname} long",
                    )
                    df = df.join(F.broadcast(dim), on=zc, how="left").select(
                        *orig_cols, *surrogates, sname
                    )
                    # NULL strings are absent from the dictionary; the
                    # left join leaves their surrogate NULL. Map them to
                    # sentinel rank -1 so NULL-keyed rows deterministically
                    # collapse into the z-low end (below every real rank)
                    # instead of riding the quantizer's undefined NULL->0
                    # path — mirroring bottomk_sample's NULL note.
                    df = df.withColumn(
                        sname, F.coalesce(F.col(sname), F.lit(-1))
                    )
                surrogates.append(sname)
                eff_zorder[zi] = sname
            if zorder_quantize == "rank":
                from f1_data_engineering_machine_learning_spark.dataops.quality import (
                    exact_percentiles,
                )

                fracs = [i / 256 for i in range(1, 256)]
                zk = zorder_key_ranked(
                    eff_zorder,
                    [
                        [
                            float(r["value"])
                            for r in exact_percentiles(df, c, fracs)
                            .orderBy("frac")
                            .collect()
                        ]
                        for c in eff_zorder
                    ],
                )
            else:
                bounds = df.agg(
                    *[
                        F.min(c).alias(f"__lo_{i}")
                        for i, c in enumerate(eff_zorder)
                    ],
                    *[
                        F.max(c).alias(f"__hi_{i}")
                        for i, c in enumerate(eff_zorder)
                    ],
                ).first()
                zk = zorder_key(
                    eff_zorder,
                    [bounds[f"__lo_{i}"] for i in range(len(eff_zorder))],
                    [bounds[f"__hi_{i}"] for i in range(len(eff_zorder))],
                )
            df = (
                df.withColumn("__z", zk)
                .repartitionByRange(num_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z", *surrogates)
            )
            if surrogates:
                df = df.select(*orig_cols)
        elif sort_by:
            df = df.repartitionByRange(
                num_files, *sort_by
            ).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(num_files)
        names, n_rows, stats = self._write_data_files(df, stats_cols)
        n_base = len(base_m["files"])

        def make(tip, tm):
            if tip != base:
                try:
                    appends_only = all(
                        self._manifest(v).get("mode") == "append"
                        for v in range(base + 1, tip + 1)
                    )
                except OSError:
                    appends_only = False  # manifest vacuumed mid-flight
                if not appends_only or tm["files"][:n_base] != base_m["files"]:
                    raise ConcurrentCompactionError(
                        f"compaction of version {base} aborted: a non-append "
                        "commit interleaved (overwrite/rollback/compaction "
                        "replaced the base snapshot); rerun against the "
                        "current tip"
                    )
            extra = tm["files"][n_base:]
            tstats = tm.get("stats", {})
            return {
                "mode": "overwrite",
                "files": names + extra,
                "n_rows": n_rows + tm["n_rows"] - base_m["n_rows"],
                "stats": {**stats, **{f: tstats[f] for f in extra if f in tstats}},
                "schema": tm.get("schema"),
            }

        return self._commit_next(make, names)

    def history(self) -> list[VersionInfo]:
        out = []
        for v in self._versions():
            m = self._manifest(v)
            out.append(
                VersionInfo(
                    version=m["version"],
                    mode=m["mode"],
                    n_files=len(m["files"]),
                    n_rows=m["n_rows"],
                    parent=m["parent"],
                    ts=m["ts"],
                )
            )
        return out

    def rollback(self, to_version: int) -> int:
        """Commit a new version replaying ``to_version``'s file list —
        metadata-only (no data copied, no history rewritten)."""
        m = self._manifest(to_version)
        # the table's data travels back; the streaming replay-protection
        # high-water marks (txns) ride the tip forward
        return self._commit_next(
            lambda parent, pm: {
                "mode": f"rollback:{to_version}",
                "files": m["files"],
                "n_rows": m["n_rows"],
                "stats": m.get("stats", {}),
                "schema": m.get("schema", pm.get("schema")),
            }
        )

    def vacuum(self, retain_last: int = 1, grace_seconds: float = 600.0) -> dict:
        """Drop all but the last ``retain_last`` versions and delete
        data files no retained manifest references. Time travel keeps
        working within the retention window, errors cleanly past it —
        the VACUUM RETAIN contract. Returns counts.

        ``grace_seconds``: unreferenced data files YOUNGER than this are
        left alone. Committers promote files into ``data/`` BEFORE the
        manifest CAS, so a freshly-staged file can be momentarily
        unreferenced while its commit is in flight; the time margin is
        what makes vacuum safe to run concurrently with writers (the
        same role as Delta's retention-hours floor). Tests pass 0 to
        reclaim immediately."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        versions = self._versions()
        keep = set(versions[-retain_last:])
        live: set[str] = set()
        for v in keep:
            live |= set(self._manifest(v)["files"])
        n_files = 0
        now = time.time()
        if os.path.isdir(self._ddir):
            for f in os.listdir(self._ddir):
                if f.endswith(".parquet") and f not in live:
                    p = os.path.join(self._ddir, f)
                    try:
                        if now - os.path.getmtime(p) < grace_seconds:
                            continue  # possibly an in-flight commit's file
                        os.remove(p)
                    except OSError:
                        continue  # already reclaimed by a concurrent vacuum
                    n_files += 1
        n_manifests = 0
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self._mdir, f"v{v:08d}.json"))
                n_manifests += 1
        return {"removed_files": n_files, "removed_versions": n_manifests}
