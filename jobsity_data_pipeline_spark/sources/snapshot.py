"""Manifest-based snapshot table: the transactional-sink answer to
plain-parquet appends.

The reference gets atomic idempotent ingest from Postgres
(``ON CONFLICT DO NOTHING``, src/sqls/populate_postgres.sql:16-31); a
file-based lake must build it: data files are written first, then a
manifest naming exactly the files of the new table version is
published with an atomic rename. Readers resolve the highest manifest
version and read ONLY its file list, so they never observe a
half-written version — and a writer that crashes between data and
manifest leaves only orphan files that no reader resolves (the
Delta/Iceberg commit-protocol core, re-expressed on plain parquet +
POSIX rename).

Exactly-once streaming upserts fall out of the manifest body carrying
the micro-batch id: a retried batch finds its own id already published
and skips. Every writer commits through one loop (_commit): token
check, latest-manifest read, CAS-guarded publish, bounded retry, and
the carry-forward of per-file stats and of the table schema.

The manifest is the table's metadata: its ``schema`` field is the
Spark schema every read passes to ``spark.read.schema``, so no read
opens a footer to infer it. Data files are zstd parquet with v2 data
pages, their columns in the table schema's order and their rows sorted
by those columns (_in_table_order).

The verbs are the ones the trips system calls: keyed ingest
(upsert_batch, the ON CONFLICT DO NOTHING) and its streaming sink
(start_snapshot_upsert), latest and stats-pruned point reads, and the
maintenance chain (compact, analyze, vacuum, maintain) with history().

At 100 TB the manifest lists file paths (KBs per thousand files), new
versions reuse prior data files (append = prior list + one new file),
and the rename happens on the driver against the table's metadata
directory — object stores swap the rename for a conditional PUT.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_MANIFEST_RE = re.compile(r"manifest-(\d{6})\.json$")
# attempts before a writer (or latest_manifest) gives up on a table
# that keeps moving underneath it
_ATTEMPTS = 10


def _manifests(table_dir: str,
               with_tokens: bool = False) -> list[tuple[int, str, str]]:
    """[(version, batch_token, path)] sorted by version.

    The filename carries ONLY the version — the put-if-absent slot must
    be per-version, or two writers with different batch tokens could
    both link a same-version manifest and one commit would silently
    shadow the other. The batch token lives in the manifest body and is
    read only when ``with_tokens`` is set (the idempotence scan):
    version resolution must not cost O(versions) file opens.

    A concurrent vacuum() may unlink a retired manifest between
    listdir and open; such entries are skipped rather than crashing
    the reader (a retired version is by definition not the latest)."""
    out = []
    if not os.path.isdir(table_dir):
        return out
    for name in os.listdir(table_dir):
        m = _MANIFEST_RE.match(name)
        if not m:
            continue
        path = os.path.join(table_dir, name)
        token = ""
        if with_tokens:
            try:
                with open(path) as f:
                    token = json.load(f).get("batch", "")
            except (FileNotFoundError, json.JSONDecodeError):
                continue  # vacuumed or half-written: not the latest
        out.append((int(m.group(1)), token, path))
    return sorted(out)


def _has_token(table_dir: str, token: str) -> bool:
    """True once any manifest of ``table_dir`` carries batch ``token``
    (the exactly-once replay check)."""
    return any(tok == token
               for _, tok, _ in _manifests(table_dir, with_tokens=True))


def latest_manifest(table_dir: str) -> dict | None:
    # bounded re-resolve: a pathological stream of zero-retention
    # vacuums must surface as an error, not starve the reader forever
    for _ in range(_ATTEMPTS):
        ms = _manifests(table_dir)
        if not ms:
            return None
        try:
            with open(ms[-1][2]) as f:
                return json.load(f)
        except FileNotFoundError:
            continue  # raced a zero-retention vacuum: re-resolve
    raise RuntimeError(
        f"latest_manifest: top manifest vanished {_ATTEMPTS} times in a "
        f"row at {table_dir} (concurrent zero-retention vacuum loop?)"
    )


def _publish(table_dir: str, files: list[str], batch_token: str,
             extra: dict | None, expected_version: int) -> int:
    """One commit attempt: put-if-absent, not replace-on-rename. Two
    concurrent writers that both compute the same next version must
    not silently overwrite each other (lost update); os.link refuses
    an existing destination atomically, the conditional PUT
    Delta/Iceberg run their optimistic concurrency against.

    Returns the published version, or -1 when the attempt lost: either
    the table advanced past ``expected_version`` (the CAS guard for a
    file list DERIVED from a read version — publishing it anyway would
    drop the interleaved commit's files) or another writer linked this
    version first. Retrying is _commit's job."""
    os.makedirs(table_dir, exist_ok=True)
    ms = _manifests(table_dir)
    version = (ms[-1][0] + 1) if ms else 1
    if version != expected_version + 1:
        return -1  # table advanced: caller must recompute
    body = {"version": version, "batch": batch_token, "files": files}
    if extra:
        body.update(extra)
    # every version's committed_at is its own wall-clock (history())
    body["committed_at"] = time.time()
    tmp = os.path.join(table_dir, f".manifest-{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(body, f)
    final = os.path.join(table_dir, f"manifest-{version:06d}.json")
    try:
        os.link(tmp, final)  # atomic create-exclusive
    except FileExistsError:
        return -1  # lost the race for this version
    finally:
        os.remove(tmp)
    return version


class _Commit(NamedTuple):
    """What a writer computed from the manifest it read: the next
    version lists ``keep`` (files of the read version, by reference)
    then ``new`` (files this writer wrote). ``stats`` holds fresh
    {key: {path: [min, max]}} entries. ``schema`` is the table schema
    of the new version; None carries the read version's forward.
    ``result`` maps the published version to the writer's return
    value."""
    result: Callable[[int], Any]
    new: list = []
    keep: list = []
    stats: dict = {}
    schema: StructType | None = None


def _carry_stats(man: dict | None, keep: list[str]) -> dict:
    """The data-skipping stats of ``man`` for the files a new version
    keeps by reference, for EVERY tracked key: kept files are
    unchanged, so all their entries stay valid — narrowing the map to
    the writer's own key would wipe the skipping index of tables
    tracked under several keys (e.g. after analyze or a
    compact(cluster_by=...) added one)."""
    keep_set = set(keep)
    return {
        k: {p: s for p, s in m.items() if p in keep_set}
        for k, m in (man or {}).get("stats", {}).items()
    }


def _commit(table_dir: str, what: str, token: str,
            plan: Callable[[dict | None], Any],
            skipped: Any = None) -> Any:
    """The commit protocol — the single place it is written. Each
    attempt: when ``skipped`` is given and a manifest already carries
    ``token``, return ``skipped`` (exactly-once replay); read the
    latest manifest; let ``plan`` compute from it; publish CAS-guarded
    on the version read. A lost race re-reads and recomputes, so a
    commit that lands in between is never dropped and never slips past
    an anti-join; after _ATTEMPTS losses it raises.

    ``plan(man)`` returns a _Commit, or any other value meaning
    "nothing to publish", which is returned as is. Stats of ``man``
    carry forward under the commit's own (_carry_stats), and so does
    its schema unless the commit brings one."""
    for _attempt in range(_ATTEMPTS):
        if skipped is not None and _has_token(table_dir, token):
            return skipped
        man = latest_manifest(table_dir)
        step = plan(man)
        if not isinstance(step, _Commit):
            return step
        stats = _carry_stats(man, step.keep)
        for k, fresh in step.stats.items():
            stats[k] = {**stats.get(k, {}), **fresh}
        extra = {"stats": stats} if stats else {}
        if step.schema is not None:
            extra["schema"] = step.schema.json()
        elif man and "schema" in man:
            extra["schema"] = man["schema"]
        v = _publish(table_dir, step.keep + step.new, token, extra=extra,
                     expected_version=(man or {}).get("version", 0))
        if v != -1:
            return step.result(v)
    raise RuntimeError(
        f"{what}: lost the publish race {_ATTEMPTS} times at {table_dir}"
    )


def _in_table_order(df: DataFrame, schema: StructType) -> DataFrame:
    """``df``'s columns in ``schema``'s order, rows sorted by those
    columns within each write task: the layout of every file set the
    table writes without a cluster key. Neighbouring rows then share
    prefixes and runs, which the v2 pages' delta and dictionary
    encodings turn into fewer bytes. A local sort, so no shuffle and
    no extra job."""
    cols = [c for c in schema.fieldNames() if c in df.columns]
    return df.select(*cols).sortWithinPartitions(*cols)


def _write_data(df: DataFrame, table_dir: str) -> list[str]:
    """The table's one parquet writer: ``df`` as a new zstd data file
    set with Parquet v2 data pages (with _in_table_order, about 0.54x
    the bytes of Spark's default snappy on the trips table)."""
    snap = os.path.join(table_dir, f"data-{uuid.uuid4().hex}")
    (df.write.mode("overwrite").option("compression", "zstd")
     .option("parquet.writer.version", "v2").parquet(snap))
    return [
        os.path.join(snap, n)
        for n in sorted(os.listdir(snap))
        if n.endswith(".parquet")
    ]


# sentinel stats entry for a file with no rows for the key (always
# prunable); JSON round-trips as None/None
_EMPTY_STATS = [None, None]


def _file_stats(files: list[str], key: str) -> dict | None:
    """{path: [min, max]} of ``key`` across each file's row groups, or
    None if any file lacks usable statistics (caller publishes no stats
    and readers fall back to footer pruning). Driver-side pyarrow
    footer reads at WRITE time — paid once per file ever, so every
    later point read prunes from the manifest alone, the
    Delta/Iceberg data-skipping layout. Only JSON-safe stat types
    (str/int/float/bool) are published."""
    import pyarrow.parquet as pq

    out = {}
    for path in files:
        meta = pq.ParquetFile(path)
        idx = meta.schema_arrow.get_field_index(key)
        if idx < 0:
            return None
        mins, maxs = [], []
        for rg in range(meta.metadata.num_row_groups):
            st = meta.metadata.row_group(rg).column(idx).statistics
            if st is None or st.min is None:
                return None
            mins.append(st.min)
            maxs.append(st.max)
        if not mins:
            out[path] = list(_EMPTY_STATS)
            continue
        lo, hi = min(mins), max(maxs)
        if not isinstance(lo, (str, int, float, bool)):
            return None
        out[path] = [lo, hi]
    return out


def _prune_by_stats(stats: dict, files: list[str], keys: list) -> tuple[
        list[str], list[str]]:
    """(maybe_hit, definitely_clear) split of ``files`` by the manifest
    stats map; files missing from the map count as hits (unknown)."""
    hit, clear = [], []
    for path in files:
        s = stats.get(path)
        if s is None:
            hit.append(path)
        elif s == _EMPTY_STATS:
            clear.append(path)
        elif any(s[0] <= k <= s[1] for k in keys):
            hit.append(path)
        else:
            clear.append(path)
    return hit, clear


def _union_schema(old: StructType, new: StructType) -> StructType:
    """``old`` widened by the columns of ``new`` it lacks, appended in
    ``new``'s order: add-column evolution, where files written before
    a column existed read it as null. A column the two carry with
    different types raises ValueError — a version listing both file
    sets could not be read."""
    types = {f.name: f.dataType.simpleString() for f in old.fields}
    fields = list(old.fields)
    for f in new.fields:
        t = types.get(f.name)
        if t is None:
            fields.append(f)
        elif t != f.dataType.simpleString():
            raise ValueError(
                f"column {f.name!r} is {t} in the table but "
                f"{f.dataType.simpleString()} in the new rows"
            )
    return StructType(fields)


def _read_files(spark: SparkSession, man: dict,
                files: list[str] | None = None) -> DataFrame:
    """Read ``files`` (default: all of ``man``'s) under the table schema
    the manifest carries, so no Spark job opens footers to infer it.
    A version's files may span add-column schemas; the columns a file
    lacks read as null — the read-time evolution Delta/Iceberg give an
    added column. A manifest written before the field existed falls
    back to mergeSchema inference over all its files."""
    if "schema" in man:
        schema = StructType.fromJson(json.loads(man["schema"]))
    else:
        schema = spark.read.option("mergeSchema", "true").parquet(
            *man["files"]).schema
    return spark.read.schema(schema).parquet(
        *(man["files"] if files is None else files))


def read_latest(spark: SparkSession, table_dir: str) -> DataFrame | None:
    man = latest_manifest(table_dir)
    if man is None or not man["files"]:
        return None
    return _read_files(spark, man)


def upsert_batch(batch: DataFrame, batch_id: int, table_dir: str,
                 key: str = "trip_key") -> str:
    """Idempotent keyed append: anti-join the batch against the current
    version's keys, write ONLY the new rows as one data file set, and
    publish prior-files + new-files as the next version (just the prior
    files, under this batch's token, when no row is new).

    Exactly-once under retry: if any manifest already carries this
    ``batch_id``, the whole call is a no-op — a batch replayed after a
    crash-between-data-and-manifest re-writes data (the orphan is
    unreferenced) but can never double-publish.

    The published schema is the read version's widened by the batch's
    added columns (_union_schema); a batch whose column type conflicts
    with the table raises ValueError before any file is written.

    Concurrency-safe under interleaved writers: the anti-join and the
    prior-files carryover derive from the version read at the start,
    so the publish is CAS-guarded on that version — if another commit
    landed in between, the stale attempt's data files are abandoned
    (unreferenced; vacuum sweeps them) and the whole dedup recomputes
    against the new latest. Otherwise a racer appending the same key
    would slip a duplicate past the anti-join, and the stale prior
    list would drop the racer's files from the new version.
    """
    spark = batch.sparkSession
    # like the reference's ON CONFLICT DO NOTHING, intra-batch key
    # collisions also keep exactly one row
    batch = batch.dropDuplicates([key])

    def plan(man):
        if man is None:
            prior, new_rows, schema = [], batch, batch.schema
        else:
            prior = man["files"]
            hist = _read_files(spark, man)
            new_rows = batch.join(hist.select(key), key, "left_anti")
            schema = _union_schema(hist.schema, new_rows.schema)
        files = _write_data(_in_table_order(new_rows, schema), table_dir)
        # data-skipping stats ride the manifest (Delta-style): footer
        # min/max paid once per file at write time, carried forward by
        # reference with the prior files; point reads then prune
        # without any footer IO
        stats = _file_stats(files, key) or {}
        if prior and stats and all(s == _EMPTY_STATS
                                   for s in stats.values()):
            # the anti-join left nothing: publish the token over the
            # kept files and drop the 0-row file set (a first version
            # keeps its typed empty file, so empty reads stay typed)
            shutil.rmtree(os.path.dirname(files[0]))
            files, stats, schema = [], {}, hist.schema
        return _Commit(new=files, keep=prior, stats={key: stats},
                       schema=schema, result=lambda v: "published")

    return _commit(table_dir, "upsert_batch", f"batch{batch_id}", plan,
                   skipped="skipped_duplicate")


def start_snapshot_upsert(dedup: DataFrame, table_dir: str,
                          checkpoint: str):
    """The streaming sink: upsert_batch every micro-batch of ``dedup``
    until the data available at start is consumed. The engine's
    batch_id is stable across a checkpoint restart, so committing
    under it as the batch token makes the stream exactly-once."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        upsert_batch(batch, batch_id, table_dir)

    return (
        dedup.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per published version, ascending —
    version, batch token, file count, and the commit wall-clock
    (``committed_at``; for manifests published before the field
    existed, the manifest file's mtime). Vacuum-retired versions are
    skipped rather than half-reported."""
    out = []
    for v, _tok, path in _manifests(table_dir):
        try:
            with open(path) as f:
                man = json.load(f)
        except FileNotFoundError:
            continue  # retired by a concurrent vacuum
        out.append({
            "version": v,
            "batch": man.get("batch", ""),
            "n_files": len(man.get("files", [])),
            "committed_at": man.get(
                "committed_at", os.path.getmtime(path)),
        })
    return out


def analyze(table_dir: str, keys: list[str]) -> dict:
    """ANALYZE — retro-fit data-skipping stats for ``keys`` onto the
    CURRENT version without touching a single data file (the
    Delta/Iceberg compute-stats maintenance verb): read each live
    file's footer once, merge the new per-file [min, max] entries
    into the manifest's stats map, and republish the SAME file list
    as a new version under a ``analyze-*`` token. After this,
    read_point / _prune_by_stats prune on the new key from the
    manifest alone — data skipping added to a column the writers
    never tracked, without the rewrite compact(cluster_by=...) pays
    (ranges may still overlap; clustering is what TIGHTENS them).

    Keys whose footers lack usable statistics for some file are
    SKIPPED and reported (publishing a partial map would mark the
    missing files as always-hit, which is correct but useless).
    CAS-guarded like every derived-list writer: the file list and
    stats derive from a read version, so an interleaved commit
    forces a re-read instead of silently erasing its files."""

    def plan(man):
        if man is None or not man["files"]:
            return {"version": None, "added": [], "skipped": list(keys)}
        fresh = {k: _file_stats(man["files"], k) for k in keys}
        added = [k for k in keys if fresh[k] is not None]
        skipped = [k for k in keys if fresh[k] is None]
        if not added:
            return {"version": man["version"], "added": [],
                    "skipped": skipped}
        return _Commit(
            keep=man["files"], stats={k: fresh[k] for k in added},
            result=lambda v: {"version": v, "added": added,
                              "skipped": skipped},
        )

    return _commit(table_dir, "analyze",
                   f"analyze-{uuid.uuid4().hex[:8]}", plan)


def read_point(spark: SparkSession, table_dir: str, key: str,
               value) -> DataFrame | None:
    """Stats-pruned point read: resolve the latest manifest, keep only
    the data files whose published [min, max] range for ``key`` can
    contain ``value`` (files without stats are read defensively), and
    filter. With range-clustered writers this opens O(1) files of an
    arbitrarily large table — the manifest IS the index, the
    Delta/Iceberg data-skipping read path on plain parquet. Returns
    None for a nonexistent/empty table or when stats prove no file can
    hold the value."""
    man = latest_manifest(table_dir)
    if man is None or not man["files"]:
        return None
    stats = man.get("stats", {}).get(key, {})
    maybe, _clear = _prune_by_stats(stats, man["files"], [value])
    if not maybe:
        return None
    from pyspark.sql import functions as F

    return _read_files(spark, man, maybe).where(F.col(key) == value)


def compact(spark: SparkSession, table_dir: str,
            target_files: int = 1,
            cluster_by: str | list | tuple | None = None,
            only_smaller_than: int | None = None) -> dict:
    """Small-file compaction inside the manifest protocol: rewrite the
    CURRENT version's file list into ``target_files`` files and publish
    the result as a new version. Published data files are never
    mutated, so every retained prior version still lists readable
    files across the compaction boundary, and the commit itself goes through
    the same put-if-absent _publish as any writer. Batch-id idempotence
    is preserved: compaction tokens live in a separate namespace
    (``compact-*``), so a replayed micro-batch still finds its own
    ``batchN`` manifest and skips.

    ``cluster_by`` re-CLUSTERS while compacting: a single column (str
    or 1-list) runs the range-clustered layout inside the
    manifest protocol — the rewrite range-partitions + sorts on the
    key, so every output file carries a DISJOINT [min, max] range and
    the key's manifest stats — which degrade as interleaved appends
    overlap their ranges — tighten back to O(1)-file point reads.
    TWO OR MORE columns run the Z-ORDER layout (writers.zorder_tagged,
    the OPTIMIZE ZORDER BY pattern): rows range-write on the Morton
    interleave of the columns' equi-depth ranks, so every file's
    footer carries tight min/max on ALL the cluster columns at once —
    a predicate on any of them prunes most files, where single-column
    range clustering helps only its own column. Every cluster column
    joins the tracked stats set, so maintenance can retro-fit data
    skipping onto a table whose writers never published stats for it.
    Without ``cluster_by`` the rewrite is a plain repartition
    (file-count maintenance only) written in the table's order
    (_in_table_order), like every upsert.

    ``only_smaller_than`` (bytes) is the BIN-PACKING mode (Delta
    OPTIMIZE semantics): rewrite only the files under the size
    threshold — the steady-state maintenance a streaming sink needs,
    where each micro-batch appends a small file next to
    already-compacted big ones. Untouched files keep their paths (so
    caches and their existing per-file stats entries carry
    unchanged); only the rewritten tail pays footer reads.
    NOTE: combining with ``cluster_by`` clusters the REWRITTEN subset
    only — kept files' ranges still overlap the new ones, so a full
    re-cluster needs only_smaller_than=None.

    At scale, run per partition/range and coalesce to a file-size
    target; here the knob is the file count, which is what the local
    tests can assert.
    """
    cluster_cols = (
        [cluster_by] if isinstance(cluster_by, str)
        else list(cluster_by or [])
    )

    def plan(man):
        if man is None or not man["files"]:
            return {"files_before": 0, "files_after": 0, "version": None}
        if only_smaller_than is None:
            rewrite, keep = list(man["files"]), []
        else:
            rewrite, keep = [], []
            for p in man["files"]:
                (rewrite if os.path.getsize(p) < only_smaller_than
                 else keep).append(p)
            if len(rewrite) <= 1:
                # nothing to bin-pack: 0 or 1 small file gains no
                # file-count reduction — publish nothing
                return {
                    "files_before": len(man["files"]),
                    "files_after": len(man["files"]),
                    "version": man["version"],
                }
        df = _read_files(spark, man, rewrite)
        if not cluster_cols:
            out = _in_table_order(df.repartition(target_files), df.schema)
        elif len(cluster_cols) == 1:
            out = df.repartitionByRange(
                target_files, cluster_cols[0]
            ).sortWithinPartitions(cluster_cols[0])
        else:
            from .writers import zorder_tagged

            out = (
                zorder_tagged(df, cluster_cols)
                .repartitionByRange(target_files, "_z")
                .sortWithinPartitions("_z")
                .drop("_z")
            )
        new_files = _write_data(out, table_dir)
        # fresh stats for the rewritten files, for every key the prior
        # manifest tracked plus the cluster key(s) (kept files simply
        # lack entries for a NEW key — readers treat missing as a hit,
        # defensively)
        keys = set(man.get("stats", {})) | set(cluster_cols)
        # the rewrite reads under the whole version's schema, so its
        # output schema is the table's (and names it for a manifest
        # that predates the field)
        return _Commit(
            new=new_files, keep=keep,
            stats={k: _file_stats(new_files, k) or {} for k in keys},
            schema=out.schema,
            result=lambda v: {
                "files_before": len(man["files"]),
                "files_after": len(keep) + len(new_files),
                "version": v,
            },
        )

    return _commit(table_dir, "compact",
                   f"compact-{uuid.uuid4().hex[:8]}", plan)


def _check_keep_versions(keep_versions: int) -> None:
    if keep_versions < 1:
        # ms[:-0] retires nothing and ms[:1] the OLDEST version: both
        # would report success while ignoring the request
        raise ValueError(
            f"vacuum: keep_versions must be >= 1, got {keep_versions}"
        )


def vacuum(table_dir: str, keep_versions: int = 2,
           retention_seconds: float = 3600.0) -> dict:
    """Retire old versions: drop all but the newest ``keep_versions``
    (at least 1) manifests, then delete every data directory no
    surviving manifest references — which also sweeps orphans from
    writers that crashed before publishing.

    Unreferenced dirs younger than ``retention_seconds`` are spared
    (Delta's VACUUM retention window): an in-flight writer has written
    data but not yet renamed its manifest, and sweeping its files would
    publish a manifest referencing nothing. Pass 0 only when no writer
    can be active.
    """
    _check_keep_versions(keep_versions)
    ms = _manifests(table_dir)
    retired, kept = ms[:-keep_versions], ms[-keep_versions:]
    live: set[str] = set()
    for _v, _tok, path in kept:
        with open(path) as f:
            live.update(
                os.path.dirname(p) for p in json.load(f)["files"]
            )
    removed_files = 0
    for _v, _tok, path in retired:
        os.remove(path)
    now = time.time()
    for name in os.listdir(table_dir):
        full = os.path.join(table_dir, name)
        if name.startswith("data-") and os.path.isdir(full) and full not in live:
            if now - os.path.getmtime(full) < retention_seconds:
                continue  # possibly an in-flight writer's uncommitted files
            removed_files += sum(len(fs) for _, _, fs in os.walk(full))
            shutil.rmtree(full)
    return {
        "manifests_retired": len(retired),
        "data_dirs_live": len(live),
        "files_removed": removed_files,
    }


def maintain(spark: SparkSession, table_dir: str,
             small_file_bytes: int = 8 << 20,
             min_small_files: int = 4,
             target_files: int = 1,
             cluster_by: str | list | tuple | None = None,
             analyze_keys: list[str] | None = None,
             keep_versions: int = 8,
             retention_seconds: float = 3600.0,
             vacuum_old: bool = False) -> dict:
    """The nightly table-maintenance verb — one call chaining the three
    maintenance primitives in their only sensible order, with the
    policy knobs a scheduler wants:

    1. COMPACT (bin-packing) when at least ``min_small_files`` live
       files are under ``small_file_bytes`` — the steady-state cleanup
       a streaming upsert sink needs; ``cluster_by`` re-clusters the
       rewritten tail for data skipping.
    2. ANALYZE ``analyze_keys`` whose stats entries are missing or
       stale for some live file — point reads then prune from the
       manifest alone. Keys already fully covered are
       skipped without a footer read.
    3. VACUUM (opt-in: drops every version but the newest
       ``keep_versions``) retires old manifests and unreferenced data
       under the retention window.

    Each step is the underlying primitive verbatim — same CAS guards,
    same idempotence — so maintain() adds policy, not new commit
    machinery. Returns the three step reports (None where a step
    didn't run). An invalid ``keep_versions`` fails before any step
    commits."""
    if vacuum_old:
        _check_keep_versions(keep_versions)
    report: dict = {"compact": None, "analyze": None, "vacuum": None}
    man = latest_manifest(table_dir)
    if man is None or not man["files"]:
        return report
    # tolerate paths missing on disk (e.g. removed by a concurrent
    # vacuum between the manifest read and this scan) — treat them as
    # not-small instead of crashing the nightly job, matching the
    # tolerant _manifests/history readers
    def _size_or_large(p: str) -> int:
        try:
            return os.path.getsize(p)
        except OSError:
            return small_file_bytes
    small = [p for p in man["files"]
             if _size_or_large(p) < small_file_bytes]
    if len(small) >= min_small_files:
        report["compact"] = compact(
            spark, table_dir, target_files=target_files,
            cluster_by=cluster_by,
            only_smaller_than=small_file_bytes,
        )
        man = latest_manifest(table_dir)
    if analyze_keys:
        stats = (man or {}).get("stats", {})
        live = set((man or {}).get("files", []))
        missing = [
            k for k in analyze_keys
            if not live <= set(stats.get(k, {}))
        ]
        if missing:
            report["analyze"] = analyze(table_dir, missing)
    if vacuum_old:
        report["vacuum"] = vacuum(
            table_dir, keep_versions=keep_versions,
            retention_seconds=retention_seconds,
        )
    return report
