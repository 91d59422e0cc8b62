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
the carry-forward of per-file stats and manifest extras.

At 100 TB the manifest lists file paths (KBs per thousand files), new
versions reuse prior data files (append = prior list + one new file),
and the rename happens on the driver against the table's metadata
directory — object stores swap the rename for a conditional PUT.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

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
             extra: dict | None = None,
             expected_version: int | None = None) -> int:
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
    if expected_version is not None and version != expected_version + 1:
        return -1  # table advanced: caller must recompute
    body = {"version": version, "batch": batch_token, "files": files}
    if extra:
        body.update(extra)
    # Stamped AFTER the extras merge so a restore/clone that carries an
    # old manifest's metadata can never publish a stale commit time —
    # every version's committed_at is its own wall-clock, the
    # read_asof/history contract.
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
    {key: {path: [min, max]}} entries and ``extra`` the manifest keys
    to set (None drops a carried key). ``result`` maps the published
    version to the writer's return value."""
    result: Callable[[int], Any]
    new: list = []
    keep: list = []
    stats: dict = {}
    extra: dict = {}


def _carry_extras(man: dict | None) -> dict:
    """Caller-supplied manifest metadata (hash_version, constraints, a
    BM25 index's ``bm25_terms``, ...) carried forward verbatim into
    every new version — without this, a compact/delete/merge would
    silently drop the metadata and downstream readers would fall back
    to defaults."""
    return {k: v for k, v in (man or {}).items()
            if k not in ("version", "batch", "files", "stats",
                         "committed_at")}


def _carry_stats(man: dict | None, keep: list[str]) -> dict:
    """The data-skipping stats of ``man`` for the files a new version
    keeps by reference, for EVERY tracked key: kept files are
    unchanged, so all their entries stay valid — narrowing the map to
    the writer's own key would wipe the skipping index of tables
    written under several keys (e.g. the mutable LSH flow's doc_id +
    band_key)."""
    keep_set = set(keep)
    return {
        k: {p: s for p, s in m.items() if p in keep_set}
        for k, m in (man or {}).get("stats", {}).items()
    }


_LATEST = object()


def _commit(table_dir: str, what: str, token: str,
            plan: Callable[[dict | None], Any],
            skipped: Any = None, base: Any = _LATEST) -> Any:
    """The commit protocol — the single place it is written. Each
    attempt: when ``skipped`` is given and a manifest already carries
    ``token``, return ``skipped`` (exactly-once replay); read the
    latest manifest; let ``plan`` compute from it; publish CAS-guarded
    on the version read. A lost race re-reads and recomputes, so a
    commit that lands in between is never dropped and never slips past
    an anti-join; after _ATTEMPTS losses it raises.

    ``plan(man)`` returns a _Commit, or any other value meaning
    "nothing to publish", which is returned as is. Stats and extras of
    ``man`` carry forward under the commit's own (_carry_stats /
    _carry_extras).

    ``base`` is for writers whose file list does not derive from the
    table's latest version (a full replace, a restore, a clone): they
    plan and carry from ``base`` and publish unguarded, so only a
    lost link race retries."""
    for _attempt in range(_ATTEMPTS):
        if skipped is not None and _has_token(table_dir, token):
            return skipped
        man = latest_manifest(table_dir) if base is _LATEST else base
        step = plan(man)
        if not isinstance(step, _Commit):
            return step
        stats = _carry_stats(man, step.keep)
        for k, fresh in step.stats.items():
            stats[k] = {**stats.get(k, {}), **fresh}
        extra = {**_carry_extras(man), **step.extra}
        if stats:
            extra["stats"] = stats
        v = _publish(
            table_dir, step.keep + step.new, token,
            extra={k: x for k, x in extra.items() if x is not None},
            expected_version=(
                (man or {}).get("version", 0) if base is _LATEST else None
            ),
        )
        if v != -1:
            return step.result(v)
    raise RuntimeError(
        f"{what}: lost the publish race {_ATTEMPTS} times at {table_dir}"
    )


def _write_data(df: DataFrame, table_dir: str) -> list[str]:
    snap = os.path.join(table_dir, f"data-{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(snap)
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
    later delete/point-read prunes from the manifest alone, the
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


def publish_snapshot(df: DataFrame, table_dir: str,
                     batch_token: str = "manual") -> int:
    """Write ``df`` as a full new table version (data files first,
    manifest rename last). Returns the published version number. A
    full replace derives nothing from the current version, so it
    carries nothing forward and publishes unguarded."""
    files = _write_data(df, table_dir)
    return _commit(table_dir, "publish_snapshot", batch_token,
                   lambda _man: _Commit(new=files, result=lambda v: v),
                   base=None)


def _read_files(spark: SparkSession, files: list[str]) -> DataFrame:
    """Schema-evolution-aware read: a version's file list may span data
    file sets written under different (add-column) schemas; mergeSchema
    unions them, surfacing missing columns as null for older files —
    the same read-time evolution Delta/Iceberg give an added column."""
    return spark.read.option("mergeSchema", "true").parquet(*files)


def read_latest(spark: SparkSession, table_dir: str) -> DataFrame | None:
    man = latest_manifest(table_dir)
    if man is None or not man["files"]:
        return None
    return _read_files(spark, man["files"])


def upsert_batch(batch: DataFrame, batch_id: int, table_dir: str,
                 key: str = "trip_key",
                 extra: dict | None = None) -> str:
    """Idempotent keyed append: anti-join the batch against the current
    version's keys, write ONLY the new rows as one data file set, and
    publish prior-files + new-files as the next version.

    Exactly-once under retry: if any manifest already carries this
    ``batch_id``, the whole call is a no-op — a batch replayed after a
    crash-between-data-and-manifest re-writes data (the orphan is
    unreferenced) but can never double-publish.

    Concurrency-safe under interleaved writers: the anti-join and the
    prior-files carryover derive from the version read at the start,
    so the publish is CAS-guarded on that version — if another commit
    landed in between, the stale attempt's data files are abandoned
    (unreferenced; vacuum sweeps them) and the whole dedup recomputes
    against the new latest. Otherwise a racer appending the same key
    would slip a duplicate past the anti-join, and the stale prior
    list would drop the racer's files from the new version.

    ``extra`` rides the published manifest verbatim (table-level
    metadata such as an index's term list); reserved body keys
    (version/batch/files/stats) must not be used.
    """
    spark = batch.sparkSession
    # like the reference's ON CONFLICT DO NOTHING, intra-batch key
    # collisions also keep exactly one row
    batch = batch.dropDuplicates([key])

    def plan(man):
        # after the token check (a replayed batch still skips) and
        # before any data write — a violating batch leaves no file.
        # Re-run on every attempt, so a set_constraint that lands
        # between a lost race and its retry gates THIS batch too.
        _enforce_constraints(batch, man, "upsert_batch")
        if man is None:
            prior, new_rows = [], batch
        else:
            prior = man["files"]
            hist_keys = _read_files(spark, prior).select(key)
            new_rows = batch.join(hist_keys, key, "left_anti")
        files = _write_data(new_rows, table_dir)
        # data-skipping stats ride the manifest (Delta-style): footer
        # min/max paid once per file at write time, carried forward by
        # reference with the prior files; deletes and point reads then
        # prune without any footer IO
        return _Commit(new=files, keep=prior,
                       stats={key: _file_stats(files, key) or {}},
                       extra=extra or {}, result=lambda v: "published")

    return _commit(table_dir, "upsert_batch", f"batch{batch_id}", plan,
                   skipped="skipped_duplicate")


# Formula version of _content_hash. Manifests record the version that
# produced a table's STORED hashes ("hash_version"); writers trust a
# stored hash only when the marker matches, otherwise they recompute on
# the fly — so bumping the formula can never register a spurious
# replacement (no migration wave). rehash_table() rewrites a table
# under the current formula and sets the marker, retiring the per-merge
# recompute cost.
#   v1 (pre-round-7): "<flag>:<value>" joined with \x1f — NOT injective
#   across column boundaries (a value containing "\x1f1:" shifts the
#   split, so two different rows could hash equal and a real change be
#   dropped as a no-op).
#   v2: length-prefixed fields — injective.
_HASH_VERSION = 2


def _backfill_missing(df, data_cols: list, ref_schema) -> "DataFrame":
    """Add-column schema evolution: null-backfill any of ``data_cols``
    the frame lacks, typed from ``ref_schema`` (the batch/source side).
    Absent == explicit null, exactly the mergeSchema read-time
    semantics — so the null-total content hash encodes the null flag
    instead of crashing on an unresolved column."""
    from pyspark.sql import functions as F

    for c in data_cols:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(ref_schema[c].dataType))
    return df


def _content_hash(data_cols: list):
    """Null-total, INJECTIVE canonical content hash over ``data_cols``:
    each column encodes as "0" (null) or "1:<len>:<value>", joined with
    a separator. The length prefix makes column boundaries unambiguous
    even when a value contains the separator or a "1:" prefix, so
    distinct row contents can never collide by construction (md5
    aside); a null and the empty string still hash differently, and
    every declared column always contributes (to_json would silently
    omit null fields; see upsert_replacing's docstring). Formula
    version: _HASH_VERSION."""
    from pyspark.sql import functions as F

    def _enc(c):
        s = F.col(c).cast("string")
        return F.when(F.col(c).isNull(), F.lit("0")).otherwise(
            F.concat(F.lit("1:"), F.length(s).cast("string"),
                     F.lit(":"), s)
        )

    return F.md5(F.concat_ws("\x1f", *[_enc(c) for c in data_cols]))


def upsert_replacing(batch: DataFrame, batch_id: int, table_dir: str,
                     key: str = "trip_key",
                     content_col: str = "_chash") -> str:
    """Keyed upsert with UPDATE semantics for tables that cannot put
    their content in the key: a re-emitted key whose content CHANGED
    replaces the old row (delete-then-append, the lsh_index_mutable
    pattern generalized), while an identical re-emit stays a no-op.
    The generic content hash (md5 over all non-key columns, stored as
    ``content_col``) is what makes the replacement visible to CDC:
    pass the same ``content_col`` to change_feed / consume_changes and
    a replaced key surfaces as delete(old row) + insert(new row)
    instead of disappearing into the keyed anti-joins (their
    key-immutability premise).

    The hash is TOTAL over the declared column list: each column is
    encoded as an explicit null flag + string form before hashing
    (to_json would silently omit null fields, so a schema evolution
    that adds a null-defaulted column would leave old-row hashes
    unchanged while widening the hashed struct — old and new rows
    would then compare hashes computed over different column sets).
    Adding a column therefore changes every row's hash exactly once,
    which surfaces as one replacement wave — the correct CDC signal
    for "the row's declared content schema changed".

    Exactly-once under replay at both crash points, like the mutable
    LSH merge: the batch token is checked before any delete; a crash
    after the delete but before the append's publish replays into a
    no-op delete (the old content is already gone) and a single
    append; a crash after the publish replays into skipped_duplicate.
    A replacement costs two manifest versions (the delete, then the
    append) — the honest price of an update on immutable files.
    """
    if _has_token(table_dir, f"batch{batch_id}"):
        return "skipped_duplicate"
    from pyspark.sql import functions as F

    spark = batch.sparkSession
    data_cols = sorted(c for c in batch.columns
                       if c not in (key, content_col))
    b = batch.dropDuplicates([key]).withColumn(
        content_col, _content_hash(data_cols)
    )
    man = latest_manifest(table_dir)
    # enforce CHECK constraints BEFORE the delete leg: delete_keys
    # publishes a version of its own, so deferring validation to
    # upsert_batch would leave the table missing the replaced rows
    # when the batch violates — a violating replace batch must raise
    # with the table untouched, like every other ingest writer
    _enforce_constraints(b, man, "upsert_replacing")
    if man is not None and man["files"]:
        hist = _read_files(spark, man["files"])
        hist = _backfill_missing(hist, data_cols, b.schema)
        # trust a stored hash only when the manifest says it was
        # computed under the CURRENT formula; otherwise recompute on
        # the fly — a formula bump then compares v-current against
        # v-current and an identical re-emit stays a no-op (no
        # spurious replacement wave). rehash_table() sets the marker.
        if (content_col in hist.columns
                and man.get("hash_version") == _HASH_VERSION):
            old_h = F.coalesce(F.col(content_col),
                               _content_hash(data_cols))
        else:
            old_h = _content_hash(data_cols)
        hist = hist.select(key, old_h.alias("_old_h"))
        changed = (
            b.select(key, content_col)
            .join(hist, key)
            .where(F.col(content_col) != F.col("_old_h"))
            .select(key)
        )
        # DataFrame delete path: the changed-key set never touches the
        # driver; after it, upsert_batch's plain keyed anti-join is
        # sufficient (changed keys are gone, unchanged ones dedup away)
        delete_keys(spark, table_dir, changed, key=key,
                    footer_confirm=True)
        return upsert_batch(b, batch_id, table_dir, key=key)
    # bootstrap: every stored hash in version 1 is current-formula,
    # so the marker is assertable
    return upsert_batch(b, batch_id, table_dir, key=key,
                        extra={"hash_version": _HASH_VERSION})


def merge_into(source: DataFrame, batch_id: int, table_dir: str,
               key: str = "trip_key",
               when_matched_delete: str | None = None,
               when_matched_update: bool = True,
               when_not_matched_insert: bool | str = True,
               content_col: str = "_chash",
               footer_confirm: bool = False) -> dict:
    """Delta-style MERGE in ONE atomic commit: per source row (keyed,
    intra-batch deduped) against the current table version —

    - matched and ``when_matched_delete`` (a SQL boolean expression
      over the source row's columns) is true -> the target row is
      deleted; a NULL predicate result falls through to the update
      clause (standard MERGE semantics — coalesced to false);
    - otherwise matched, ``when_matched_update`` and the content hash
      differs -> the target row is replaced by the source row;
    - not matched and ``when_not_matched_insert`` -> inserted.
      Pass a SQL boolean STRING instead of True to gate the insert
      clause per row — e.g. ``when_not_matched_insert="op <> 'd'"``
      keeps an out-of-order or re-delivered CDC tombstone from being
      resurrected as a live row (there is no standard-MERGE way to
      express this with a bare boolean);
    - everything else is a no-op (identical re-emits never rewrite).

    Unlike upsert_replacing's delete-then-append two-version dance,
    the rewrite (hit files minus removed keys), the appends, and the
    untouched-file carryover publish as a SINGLE manifest version
    carrying the batch token — so a replay after a crash at ANY point
    either sees the token (full no-op) or recomputes from the intact
    pre-merge state. That closes the update-in-flight window a
    two-phase emulation has when inserts are disabled: exactly-once
    for every clause.

    File IO is bounded like delete_keys: only files whose key range
    can contain a removed key are rewritten (manifest-stats pruning
    with zero footer IO by default; ``footer_confirm=True`` buys
    row-group-granular pruning at one driver footer read per
    stats-maybe file, the delete-heavy-flow tradeoff delete_keys
    documents). The matched/not-matched classification reads prior
    keys once (the classified frame is checkpointed, so the three
    clause counts and the rewrite do not re-scan history). Rows are
    stored with ``content_col`` (the null-total hash), so
    change_feed's content-aware mode sees updates as
    delete(old)+insert(new). Hash-formula migrations are a no-op by
    construction: stored hashes are trusted only when the manifest's
    ``hash_version`` marker matches the current formula, otherwise
    history hashes are recomputed on the fly for the comparison — so
    rows written under ANY older formula (including the pre-round-6
    to_json one) never register a spurious replacement. Run
    rehash_table() once to set the marker and retire the per-merge
    recompute.
    Returns {"status", "deleted", "updated", "inserted"}; a merge
    with nothing to do returns status "noop" without publishing (no
    manifest churn, and its replay is the same no-op) — including on
    a not-yet-created table whose insert predicate filters every row.

    Precondition: the source schema equals the table schema (minus
    ``content_col``) — rewritten rows are projected onto the source's
    column list, the same contract upsert_replacing carries.
    """
    from pyspark.sql import functions as F

    spark = source.sparkSession
    data_cols = sorted(c for c in source.columns
                       if c not in (key, content_col))
    src = source.dropDuplicates([key]).withColumn(
        content_col, _content_hash(data_cols)
    ).localCheckpoint()
    # clause predicates, NULL-coalesced to false (a NULL delete
    # predicate must fall through to update, not vanish; a NULL
    # insert predicate must not insert)
    del_pred = F.coalesce(
        F.expr(when_matched_delete) if when_matched_delete
        else F.lit(False),
        F.lit(False),
    )
    if isinstance(when_not_matched_insert, str):
        ins_pred = F.coalesce(
            F.expr(when_not_matched_insert), F.lit(False)
        )
    else:
        ins_pred = F.lit(bool(when_not_matched_insert))

    def outcome(status, deleted=0, updated=0, inserted=0):
        return {"status": status, "deleted": deleted, "updated": updated,
                "inserted": inserted}

    def plan(man):
        # every row a merge can write (insert or rewrite) comes from
        # src, so one batch-scan validation covers both paths; re-run
        # on every attempt like upsert_batch's
        _enforce_constraints(src, man, "merge_into")
        if man is None or not man["files"]:
            ins = src.where(ins_pred)
            n_ins = ins.count()
            if n_ins == 0:
                # nothing survives the insert predicate: no version
                # churn (mirrors the non-empty-table noop path)
                return outcome("noop")
            files = _write_data(ins, table_dir)
            return _Commit(
                new=files, stats={key: _file_stats(files, key) or {}},
                extra={"hash_version": _HASH_VERSION},
                result=lambda v: outcome("published", inserted=n_ins),
            )
        hist = _read_files(spark, man["files"])
        hist = _backfill_missing(hist, data_cols, src.schema)
        # rows written without a stored hash (plain upsert_batch
        # history, or pre-merge files after the column first appears)
        # get it computed on the fly over the merge's declared column
        # list — never compared against null. Stored hashes are
        # trusted ONLY when the manifest's hash_version marker matches
        # the current formula; otherwise every history hash is
        # recomputed, so a formula bump can never register a spurious
        # replacement (rehash_table() retires the recompute cost).
        computed = _content_hash(data_cols)
        trusted = man.get("hash_version") == _HASH_VERSION
        if content_col in hist.columns and trusted:
            hist = hist.withColumn(
                content_col, F.coalesce(F.col(content_col), computed)
            )
        else:
            hist = hist.withColumn(content_col, computed)
        hist_keyed = hist.select(key, F.col(content_col).alias("_old_h"))
        # ONE history scan: the classified frame (|src| rows) is
        # pinned, so the clause counts and the append projection all
        # read the checkpoint, not the table
        cls = src.join(hist_keyed, key, "left").localCheckpoint()
        matched = cls.where(F.col("_old_h").isNotNull())
        deletes = matched.where(del_pred).select(key)
        updates = (
            matched.where(~del_pred)
            .where(F.col(content_col) != F.col("_old_h"))
            if when_matched_update else matched.limit(0)
        )
        inserts = cls.where(F.col("_old_h").isNull()).where(ins_pred)
        n_del, n_upd, n_ins = (
            deletes.count(), updates.count(), inserts.count(),
        )
        if n_del + n_upd + n_ins == 0:
            # nothing to do: no version churn, no token — a replay of
            # this batch is the same no-op against the same state
            return outcome("noop")
        removed = deletes.unionByName(updates.select(key))
        appends = updates.unionByName(inserts).select(*src.columns)
        kdf = removed.select(F.col(key).alias("_k")).distinct()
        hit_files, keep_files = _split_hit_files(
            spark, man, key, kdf, footer_confirm=footer_confirm
        )
        if hit_files:
            kept = _read_files(spark, hit_files).join(
                kdf, F.col(key) == F.col("_k"), "left_anti"
            )
            kept = _backfill_missing(kept, data_cols, src.schema)
            if content_col in kept.columns and trusted:
                kept = kept.withColumn(
                    content_col, F.coalesce(F.col(content_col), computed)
                )
            else:
                kept = kept.withColumn(content_col, computed)
            kept = kept.select(*src.columns)
        else:
            kept = None
        new_rows = (kept.unionByName(appends) if kept is not None
                    else appends)
        files = _write_data(new_rows, table_dir)
        # the marker means "EVERY stored hash in this version is
        # current-formula": keep it only when it already held, or
        # assert it when this merge rewrote every prior file (rows
        # written here always hash under the current formula)
        return _Commit(
            new=files, keep=keep_files,
            stats={key: _file_stats(files, key) or {}},
            extra={"hash_version": (_HASH_VERSION
                                    if trusted or not keep_files
                                    else None)},
            result=lambda v: outcome("published", n_del, n_upd, n_ins),
        )

    return _commit(table_dir, "merge_into", f"batch{batch_id}", plan,
                   skipped=outcome("skipped_duplicate"))


def rehash_table(spark: SparkSession, table_dir: str,
                 key: str = "trip_key",
                 content_col: str = "_chash") -> dict:
    """One-shot hash-formula migration: rewrite every row with
    ``content_col`` recomputed under the CURRENT formula and stamp the
    manifest with ``hash_version`` so upsert_replacing / merge_into /
    change_feed trust stored hashes again (until then they recompute
    on the fly — correct, but one extra md5 projection per history
    scan). Idempotent: a table already marked current is a no-op, so a
    replayed migration is one too, while a table whose marker was lost
    (e.g. to a full-replace publish_snapshot) migrates again. Content
    is unchanged, so a change_feed crossing the rehash boundary emits
    nothing for untouched keys (the feed recomputes hashes whenever
    the endpoints' markers differ)."""

    def plan(man):
        if (man is None or not man["files"]
                or man.get("hash_version") == _HASH_VERSION):
            return {"status": "noop"}
        rows = _read_files(spark, man["files"])
        data_cols = sorted(c for c in rows.columns
                           if c not in (key, content_col))
        rows = rows.withColumn(content_col, _content_hash(data_cols))
        files = _write_data(rows, table_dir)
        # every file was rewritten: refresh the skipping stats for
        # EVERY key the prior manifest tracked, not just the passed
        # one (the compact contract)
        tracked = set(man.get("stats", {})) | {key}
        return _Commit(
            new=files,
            stats={k: _file_stats(files, k) or {} for k in tracked},
            extra={"hash_version": _HASH_VERSION},
            result=lambda v: {"status": "published", "version": v},
        )

    return _commit(table_dir, "rehash_table",
                   f"rehash-v{_HASH_VERSION}-{uuid.uuid4().hex[:8]}", plan)


def start_snapshot_merge(source: DataFrame, table_dir: str,
                         checkpoint: str, key: str = "trip_key",
                         when_matched_delete: str | None = None,
                         when_matched_update: bool = True,
                         when_not_matched_insert: bool | str = True):
    """Streaming MERGE INTO: foreachBatch -> merge_into with the
    engine's batch_id as the idempotence token. Each micro-batch's
    three clauses resolve in one atomic manifest version, so the
    stream gives exactly-once upsert/delete semantics under replay.
    A CDC feed whose rows carry an `op` column should drive BOTH
    clause predicates: ``when_matched_delete="op = 'd'"`` AND
    ``when_not_matched_insert="op <> 'd'"`` — the latter keeps an
    out-of-order or re-delivered tombstone (delete for a key not
    currently present) from being inserted as a live row."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        merge_into(batch, batch_id, table_dir, key=key,
                   when_matched_delete=when_matched_delete,
                   when_matched_update=when_matched_update,
                   when_not_matched_insert=when_not_matched_insert)

    return (
        source.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def start_snapshot_upsert(dedup: DataFrame, table_dir: str,
                          checkpoint: str, key: str = "trip_key"):
    """Streaming twin: foreachBatch -> upsert_batch with the engine's
    batch_id as the idempotence token."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        upsert_batch(batch, batch_id, table_dir, key)

    return (
        dedup.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_version(spark: SparkSession, table_dir: str,
                 version: int) -> DataFrame | None:
    """Time travel: read the exact file list manifest ``version``
    published. Prior versions stay readable because appends and
    deletes never mutate published data files — they publish new
    manifests (and new files) on top."""
    man = _manifest_at(table_dir, version)
    if man is None or not man["files"]:
        return None
    return _read_files(spark, man["files"])


def history(table_dir: str) -> list[dict]:
    """DESCRIBE HISTORY: one dict per published version, ascending —
    version, batch token, file count, and the commit wall-clock
    (``committed_at``; for manifests published before the field
    existed, the manifest file's mtime — the same fallback Delta's
    timestamp time-travel uses on its commit files). Vacuum-retired
    versions are skipped rather than half-reported."""
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


def read_asof(spark: SparkSession, table_dir: str,
              ts: float) -> DataFrame | None:
    """Time travel BY TIMESTAMP: read the latest version whose commit
    wall-clock is <= ``ts`` (epoch seconds, or a datetime) — "what did
    the table look like at 09:00", the form incident reviews actually
    ask in. Resolution uses each manifest's ``committed_at`` stamp
    (mtime fallback for pre-stamp manifests, the Delta convention);
    returns None when the table has no version that old. Restores and
    clones stamp FRESH commit times (the stale stamp is stripped from
    carried extras), so a restored table's as-of view stays monotone:
    asking for a time after the restore returns the restored list,
    asking before it returns whatever was latest then."""
    if hasattr(ts, "timestamp"):
        ts = ts.timestamp()
    best = None
    for h in history(table_dir):
        if h["committed_at"] <= ts:
            best = h["version"]
    if best is None:
        return None
    return read_version(spark, table_dir, best)


def restore(table_dir: str, version: int) -> dict:
    """Delta-style RESTORE: republish version ``version``'s exact file
    list — and its stats map and carried extras (hash_version,
    bm25_terms, ...) — as a NEW latest version. Published data files
    are never mutated, so this is a METADATA-ONLY commit: no data is
    copied, every version in between stays time-travelable, and the
    bad deploy's commits remain on the history for the post-mortem.
    The restore manifest gets its own ``restore-*`` token namespace,
    so batch-id idempotence is untouched: a replayed micro-batch
    still finds its original ``batchN`` manifest and skips, exactly
    as across a compaction boundary.

    The file list depends only on the TARGET version (not the current
    latest), so the commit carries from the target and needs no CAS
    guard — like Delta RESTORE,
    it intentionally REPLACES whatever the latest view holds,
    including commits that land while the restore is in flight.
    Fails loudly (ValueError) if the target version is unknown or any
    of its data files has been vacuumed — publishing a manifest with
    dangling paths would poison every later reader."""
    man = _manifest_at(table_dir, version)
    if man is None:
        raise ValueError(
            f"restore: no version {version} at {table_dir} "
            f"(never published, or retired by vacuum)"
        )
    missing = [p for p in man["files"] if not os.path.exists(p)]
    if missing:
        raise ValueError(
            f"restore: version {version} references {len(missing)} "
            f"vacuumed data file(s) at {table_dir} (e.g. {missing[0]}); "
            f"its data is gone — restore a retained version"
        )
    return _commit(
        table_dir, "restore", f"restore-{uuid.uuid4().hex[:8]}",
        lambda _man: _Commit(keep=man["files"], result=lambda v: {
            "restored_from": version, "version": v,
            "files": len(man["files"]),
        }),
        base=man,
    )


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


def _enforce_constraints(df: DataFrame, man: dict | None,
                         what: str) -> None:
    """Validate an incoming frame against the table's CHECK
    constraints (manifest ``constraints`` map, name -> SQL boolean
    expression) BEFORE any data file is written. SQL CHECK semantics:
    a row violates only when the expression is FALSE — NULL passes
    (that's what ``x IS NOT NULL`` is for). ONE aggregate pass over
    the batch counts every constraint's violations together, so the
    cost is a single batch scan regardless of constraint count; the
    error names every violated constraint with its row count."""
    cons = (man or {}).get("constraints") or {}
    if not cons:
        return
    from pyspark.sql import functions as F

    names = sorted(cons)
    row = df.agg(*[
        F.sum(
            F.when(F.expr(cons[n]).eqNullSafe(F.lit(False)), 1)
            .otherwise(0)
        ).alias(f"_c{i}")
        for i, n in enumerate(names)
    ]).collect()[0]
    bad = {
        n: int(row[f"_c{i}"] or 0)
        for i, n in enumerate(names) if (row[f"_c{i}"] or 0) > 0
    }
    if bad:
        raise ValueError(
            f"{what}: CHECK constraint(s) violated: " + "; ".join(
                f"{n} ({cons[n]!r}): {c} row(s)" for n, c in bad.items()
            )
        )


def set_constraint(spark: SparkSession, table_dir: str,
                   name: str, expr: str) -> dict:
    """ADD CONSTRAINT — Delta-style table-level CHECK: persist
    ``name -> expr`` in the manifest's ``constraints`` map (carried
    forward by every writer via _carry_extras, like hash_version),
    after validating the CURRENT table data against it — adding a
    constraint existing rows violate would make the table lie, so it
    fails loudly instead (the Delta ALTER TABLE ADD CONSTRAINT
    contract). Ingest writers (upsert_batch / upsert_replacing /
    merge_into) then reject any batch carrying a violating row before
    writing a single data file. Metadata-only commit under the CAS
    guard (file list carried by reference)."""

    def plan(man):
        if man is None or not man["files"]:
            raise ValueError(
                f"set_constraint: no published table at {table_dir} — "
                f"constraints attach to an existing table"
            )
        _enforce_constraints(
            _read_files(spark, man["files"]),
            {"constraints": {name: expr}},
            "set_constraint(existing data)",
        )
        cons = {**(man.get("constraints") or {}), name: expr}
        return _Commit(
            keep=man["files"], extra={"constraints": cons},
            result=lambda v: {"version": v, "constraints": cons},
        )

    return _commit(table_dir, "set_constraint",
                   f"constraint-{uuid.uuid4().hex[:8]}", plan)


def drop_constraint(table_dir: str, name: str) -> dict:
    """DROP CONSTRAINT: remove ``name`` from the manifest's
    constraints map as a metadata-only commit. Unknown names raise
    (a typo'd drop silently succeeding would leave the caller
    believing enforcement stopped)."""

    def plan(man):
        cons = dict((man or {}).get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"drop_constraint: no constraint {name!r} at {table_dir}"
            )
        del cons[name]
        return _Commit(
            keep=man["files"], extra={"constraints": cons or None},
            result=lambda v: {"version": v, "constraints": cons},
        )

    return _commit(table_dir, "drop_constraint",
                   f"constraint-{uuid.uuid4().hex[:8]}", plan)


def clone_table(src_dir: str, dst_dir: str,
                version: int | None = None) -> dict:
    """SHALLOW (zero-copy) clone — the Delta CLONE pattern: publish
    the source version's exact file list + stats + carried extras as
    ``dst_dir``'s version 1. No data is copied, so a 100 TB table
    clones in one manifest write; the clone then diverges freely
    (its appends/compactions write under its own directory and never
    touch the source). The clone manifest records its provenance
    (``cloned_from``) and starts a FRESH history: source batch
    tokens are deliberately not carried, so streams must attach with
    new checkpoints (replaying a source batch into the clone is a
    new commit, not a skip).

    The standard shallow-clone caveat, now ENFORCED instead of
    docstring-only: the clone REFERENCES the source's data files, so
    clone_table also drops a consumer registration
    (``_clones/<id>.json``) in the SOURCE directory — metadata-only,
    no source version churn — and vacuum() on the source reads those
    registrations, skips data directories a live clone still
    references (with a loud warning naming the clone), and only
    deletes them under ``force=True``. vacuum() on the CLONE is safe
    unconditionally (it only sweeps data dirs under its own
    directory). A registration whose clone directory has since
    disappeared, or whose clone no longer references any source file
    (e.g. re-published by compact), is garbage-collected by the next
    source vacuum."""
    man = (latest_manifest(src_dir) if version is None
           else _manifest_at(src_dir, version))
    if man is None or not man["files"]:
        raise ValueError(
            f"clone_table: no published data at {src_dir}"
            + (f" version {version}" if version is not None else "")
        )
    if _manifests(dst_dir):
        raise ValueError(
            f"clone_table: {dst_dir} is already a snapshot table — "
            f"clone only into a fresh directory"
        )
    cloned_from = {
        "table": os.path.abspath(src_dir), "version": man["version"],
    }
    v = _commit(
        dst_dir, "clone_table", f"clone-{uuid.uuid4().hex[:8]}",
        lambda _man: _Commit(keep=man["files"],
                             extra={"cloned_from": cloned_from},
                             result=lambda v: v),
        base=man,
    )
    # consumer registration in the SOURCE (metadata-only sidecar, no
    # source version churn): lets the source's vacuum() protect data
    # dirs this clone still references
    reg_dir = os.path.join(src_dir, "_clones")
    os.makedirs(reg_dir, exist_ok=True)
    reg = os.path.join(reg_dir, f"{uuid.uuid4().hex[:12]}.json")
    with open(reg + ".tmp", "w") as f:
        json.dump({
            "clone_dir": os.path.abspath(dst_dir),
            "source_version": man["version"],
        }, f)
    os.replace(reg + ".tmp", reg)
    return {
        "version": v,
        "source_version": man["version"],
        "files": len(man["files"]),
    }


def _manifest_at(table_dir: str, version: int) -> dict | None:
    for v, _tok, path in _manifests(table_dir):
        if v == version:
            try:
                with open(path) as f:
                    return json.load(f)
            except FileNotFoundError:
                return None  # retired by a concurrent vacuum
    return None


def change_feed(spark: SparkSession, table_dir: str, from_version: int,
                to_version: int | None = None,
                key: str = "trip_key",
                content_col: str | None = None) -> DataFrame | None:
    """Row-level change feed between two published versions — the CDC
    surface incremental downstream consumers (materialized views,
    search indexes, replication) read instead of re-scanning the
    table. Emits every data column plus ``_change_type``
    ('insert' | 'delete'); upsert-only tables never emit updates
    because a key's row is immutable once published.

    Fast path: when ``from_version``'s file set is a subset of
    ``to_version``'s (appends only — the common streaming-upsert
    cadence), the inserts are EXACTLY the rows of the new files, read
    directly at O(delta) cost with zero joins and no scan of the old
    version. Crossing a delete or compaction boundary falls back to
    two keyed anti-joins (O(both versions) — run feeds between
    compactions, not across them, at 100 TB).

    Premise: a KEY's row is immutable once published (the upsert
    contract). A writer that replaces content under a reused key
    (delete-then-append) is invisible to the keyed anti-joins — such
    flows must either put the content in the key (as the LSH index
    does with band_hash) or write through upsert_replacing and pass
    its ``content_col`` here: the anti-joins then compare
    (key, content hash), so a replacement surfaces as delete(old) +
    insert(new).

    ``to_version=None`` means the current latest. Returns None only
    when there is genuinely no change between the versions; raises
    ValueError when either endpoint's manifest is unresolvable
    (retired by a vacuum) — silently treating vacuumed history as
    "no change" would let a consumer skip the missed delta forever.
    """
    from pyspark.sql import functions as F

    man_from = _manifest_at(table_dir, from_version)
    man_to = (
        latest_manifest(table_dir) if to_version is None
        else _manifest_at(table_dir, to_version)
    )
    if man_from is None or man_to is None:
        missing = from_version if man_from is None else to_version
        raise ValueError(
            f"change_feed: manifest version {missing} at {table_dir} is "
            "unresolvable (vacuumed?) — re-bootstrap the consumer from "
            "the current table instead of continuing from this cursor"
        )
    f_from, f_to = set(man_from["files"]), set(man_to["files"])
    ins_type = F.lit("insert").alias("_change_type")
    if f_from <= f_to:
        # appends-only fast path; covers empty f_from (full bootstrap)
        new_files = sorted(f_to - f_from)
        if not new_files:
            return None  # no change between the versions
        return _read_files(spark, new_files).select("*", ins_type)
    if not f_to:
        # table emptied: every old row is a delete
        return _read_files(spark, sorted(f_from)).select(
            "*", F.lit("delete").alias("_change_type")
        )
    old = _read_files(spark, sorted(f_from))
    new = _read_files(spark, sorted(f_to))
    join_cols = [key] + ([content_col] if content_col else [])
    if content_col and (
        man_from.get("hash_version") != _HASH_VERSION
        or man_to.get("hash_version") != _HASH_VERSION
        or content_col not in old.columns
        or content_col not in new.columns
    ):
        # stored hashes are trusted raw ONLY when BOTH endpoints carry
        # the current-formula marker. Comparing an unmarked endpoint
        # raw is wrong even when both markers are equal (both None):
        # merge_into on an unmarked table rewrites untouched kept rows
        # in hit files with CURRENT-formula hashes while the published
        # manifest stays unmarked (keep_files survive), so a single
        # unmarked version can hold MIXED v1/v2 stored hashes — a feed
        # spanning that merge would emit phantom delete+insert for
        # untouched keys co-located with a changed key. Recompute BOTH
        # sides under the current formula over the current data
        # columns — equal content then compares equal regardless of
        # what is stored.
        data_cols = sorted(c for c in new.columns
                           if c not in (key, content_col))
        old = _backfill_missing(old, data_cols, new.schema)
        h = _content_hash(data_cols)
        old = old.withColumn(content_col, h)
        new = new.withColumn(content_col, h)
    inserts = new.join(
        old.select(*join_cols), join_cols, "left_anti"
    ).select("*", ins_type)
    deletes = old.join(
        new.select(*join_cols), join_cols, "left_anti"
    ).select("*", F.lit("delete").alias("_change_type"))
    return inserts.unionByName(deletes, allowMissingColumns=True)


def _cursor_path(cursor_dir: str, consumer: str) -> str:
    return os.path.join(cursor_dir, f"cursor-{consumer}.json")


def consume_changes(spark: SparkSession, table_dir: str, cursor_dir: str,
                    consumer: str = "default",
                    key: str = "trip_key",
                    content_col: str | None = None,
                    ) -> tuple[DataFrame | None, int]:
    """Cursor-tracked incremental consumption: returns
    ``(changes_since_the_committed_cursor, latest_version)``. The
    poll-based CDC consumer loop — APPLY the feed first, then call
    commit_cursor(cursor_dir, consumer, latest_version). Because the
    cursor only advances on explicit commit, a consumer that crashes
    mid-apply re-reads the same range on restart (at-least-once;
    pair with idempotent downstream merges like
    incremental.merge_feed applied per version range, or dedup on the
    table key).

    First consume of a table returns the full current content as
    inserts (cursor 0 → latest); a caught-up consumer gets
    ``(None, cursor)``. A ``None`` feed does NOT always mean
    caught-up: versions can advance without changing the file set
    (e.g. an all-duplicate upsert), returning ``(None, latest)`` with
    ``latest > cursor`` — so ALWAYS commit the returned version, even
    when the feed is None, or the consumer re-derives the same empty
    range on every poll. If a vacuum retired the cursor's manifest, the
    underlying change_feed raises ValueError — the consumer must
    re-bootstrap (reset_cursor + a from-scratch rebuild of its derived
    state), never skip the hole. Multiple independent consumers
    coexist via ``consumer`` names.
    """
    last = 0
    try:
        with open(_cursor_path(cursor_dir, consumer)) as f:
            last = json.load(f)["version"]
    except (FileNotFoundError, json.JSONDecodeError):
        pass
    man = latest_manifest(table_dir)
    if man is None:
        return None, last
    latest = man["version"]
    if latest <= last:
        return None, last
    if last == 0:
        feed = None
        if man["files"]:
            from pyspark.sql import functions as F

            feed = _read_files(spark, man["files"]).select(
                "*", F.lit("insert").alias("_change_type")
            )
        return feed, latest
    return (
        change_feed(spark, table_dir, last, latest, key=key,
                    content_col=content_col),
        latest,
    )


def commit_cursor(cursor_dir: str, consumer: str, version: int) -> None:
    """Durably advance a consumer's cursor AFTER its feed was applied
    (atomic replace — a crash leaves either the old or the new cursor,
    never a torn one)."""
    os.makedirs(cursor_dir, exist_ok=True)
    tmp = _cursor_path(cursor_dir, consumer) + f".{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version}, f)
    os.replace(tmp, _cursor_path(cursor_dir, consumer))


def reset_cursor(cursor_dir: str, consumer: str = "default") -> None:
    """Drop a consumer's cursor so its next consume re-bootstraps from
    the full current table — the recovery move after change_feed
    raises because vacuum retired the cursor's manifest. The consumer
    must also rebuild its derived state from scratch (the re-delivered
    full content is inserts-only; applying it on top of stale state
    would double-count)."""
    try:
        os.remove(_cursor_path(cursor_dir, consumer))
    except FileNotFoundError:
        pass


def _rg_ranges_for(path: str, key: str) -> list:
    """Per-row-group [min, max] for ``key`` from the parquet footer; a
    row group without stats spans everything (None sentinel)."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path)
    idx = meta.schema_arrow.get_field_index(key)
    out = []
    for rg in range(meta.metadata.num_row_groups):
        st = meta.metadata.row_group(rg).column(idx).statistics
        if st is None or st.min is None:
            out.append((None, None))
        else:
            out.append((st.min, st.max))
    return out


def _split_hit_files(spark: SparkSession, man: dict, key: str,
                     kdf: DataFrame,
                     footer_confirm: bool) -> tuple:
    """(hit_files, keep_files) split of ``man``'s file list against a
    single-column key frame ``kdf`` (column ``_k``): the (tiny)
    per-file/per-row-group range table joins the key frame broadcast-
    style, only hit file PATHS come back to the driver. Ranges come
    from the manifest stats (footerless) unless a file has no stats
    entry — or ``footer_confirm`` wants row-group granularity — in
    which case the footer's per-row-group ranges stand in. A row
    group without stats is assumed a hit for every key."""
    from pyspark.sql import functions as F

    stats = man.get("stats", {}).get(key, {})
    ranges, blind_hits = [], []
    for path in man["files"]:
        s = stats.get(path)
        if s == _EMPTY_STATS:
            continue  # written empty: definitely clear
        if s is not None and not footer_confirm:
            ranges.append((path, s[0], s[1]))
            continue
        for lo, hi in _rg_ranges_for(path, key):
            if lo is None:
                blind_hits.append(path)
                break
            ranges.append((path, lo, hi))
    hit_set = set(blind_hits)
    if ranges:
        rng = spark.createDataFrame(ranges, ["_path", "_lo", "_hi"])
        cond = (F.col("_k") >= F.col("_lo")) & (
            F.col("_k") <= F.col("_hi")
        )
        hit_set |= {
            r[0]
            for r in kdf.join(F.broadcast(rng), cond)
            .select("_path").distinct().collect()
        }
    hit_files = [p for p in man["files"] if p in hit_set]
    keep_files = [p for p in man["files"] if p not in hit_set]
    return hit_files, keep_files


def delete_keys(spark: SparkSession, table_dir: str,
                keys: list | DataFrame,
                key: str = "trip_key",
                footer_confirm: bool = False) -> dict:
    """Targeted delete (GDPR-style): rewrite ONLY the data files whose
    parquet footer key-range can contain a requested key; untouched
    files carry over into the new version by reference. With
    range-clustered data files a delete touches O(files-per-key) of
    the table, not all of it; the old version remains readable for
    audit until its manifest is retired.

    Pruning reads the manifest's data-skipping stats when the writer
    published them (zero IO beyond the manifest itself, the property
    test_manifest_stats_enable_footerless_pruning pins); files without
    a stats entry fall back to a driver-side per-row-group footer
    read. ``footer_confirm=True`` additionally confirms STATS-MAYBE
    files against their per-row-group footer ranges before classing
    them hits: the published per-file [min, max] bridges the gaps
    between row groups, and a key falling in such a gap would
    otherwise force a rows_deleted=0 rewrite and a new version —
    manifest churn worth one footer read per maybe-file for
    delete-heavy flows (the mutable LSH index passes it), but off by
    default to keep the manifest-only zero-footer-IO pruning path.

    ``keys`` may be a single-column DataFrame instead of a list: the
    key set then NEVER materializes on the driver — file pruning is a
    broadcast range-join of the (tiny) per-row-group range table
    against the key frame, only hit file PATHS (bounded by the
    manifest) are collected, and the delete itself is a left-anti
    join. This is the path for data-dependent key sets (e.g. the
    mutable streaming LSH index's per-batch doc_ids)."""
    from pyspark.sql import functions as F

    keys_df = keys if isinstance(keys, DataFrame) else None
    if keys_df is not None:
        kdf = (
            keys_df.select(F.col(keys_df.columns[0]).alias("_k"))
            .distinct()
        )
        want = None
    else:
        want = sorted(set(keys))

    def plan(man):
        if man is None:
            return {
                "files_total": 0, "files_rewritten": 0, "rows_deleted": 0,
            }
        stats = man.get("stats", {}).get(key, {})
        if keys_df is not None:
            hit_files, keep_files = _split_hit_files(
                spark, man, key, kdf, footer_confirm
            )
        else:
            maybe, keep_files = _prune_by_stats(stats, man["files"], want)
            hit_files = []
            for path in maybe:
                if path in stats and not footer_confirm:
                    hit_files.append(path)  # manifest stats: maybe-hit
                    continue
                # no stats entry, or footer_confirm: check the
                # per-row-group footer ranges (the published per-file
                # [min,max] bridges inter-row-group gaps)
                hit = any(
                    lo is None or any(lo <= k <= hi for k in want)
                    for lo, hi in _rg_ranges_for(path, key)
                )
                (hit_files if hit else keep_files).append(path)
        if not hit_files:
            # nothing can contain the keys: no rewrite, no new version
            # (a no-op delete publishing manifest churn would double
            # version growth for flows that delete-then-append per
            # batch, e.g. the mutable LSH index)
            return {
                "files_total": len(man["files"]),
                "files_rewritten": 0,
                "rows_deleted": 0,
            }
        df = _read_files(spark, hit_files)
        before = df.count()
        if keys_df is not None:
            kept = df.join(
                kdf, df[key] == F.col("_k"), "left_anti"
            )
        else:
            kept = df.where(~F.col(key).isin(want))
        rows_deleted = before - kept.count()
        new_files = _write_data(kept, table_dir)
        # rewritten files get fresh stats for the delete key (other
        # keys' entries for them fall back to footer pruning)
        return _Commit(
            new=new_files, keep=keep_files,
            stats={key: _file_stats(new_files, key) or {}},
            result=lambda v: {
                "files_total": len(man["files"]),
                "files_rewritten": len(hit_files),
                "rows_deleted": rows_deleted,
            },
        )

    return _commit(table_dir, "delete_keys",
                   f"delete-{uuid.uuid4().hex[:8]}", plan)


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

    return _read_files(spark, maybe).where(F.col(key) == value)


def compact(spark: SparkSession, table_dir: str,
            target_files: int = 1,
            cluster_by: str | list | tuple | None = None,
            only_smaller_than: int | None = None) -> dict:
    """Small-file compaction inside the manifest protocol: rewrite the
    CURRENT version's file list into ``target_files`` files and publish
    the result as a new version. Published data files are never
    mutated, so every prior version time-travels unchanged across the
    compaction boundary, and the compaction commit itself goes through
    the same put-if-absent _publish as any writer. Batch-id idempotence
    is preserved: compaction tokens live in a separate namespace
    (``compact-*``), so a replayed micro-batch still finds its own
    ``batchN`` manifest and skips.

    ``cluster_by`` re-CLUSTERS while compacting: a single column (str
    or 1-list) runs the write_range_clustered layout inside the
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
    (file-count maintenance only).

    ``only_smaller_than`` (bytes) is the BIN-PACKING mode (Delta
    OPTIMIZE semantics): rewrite only the files under the size
    threshold — the steady-state maintenance a streaming sink needs,
    where each micro-batch appends a small file next to
    already-compacted big ones. Untouched files keep their paths (so
    time travel, caches, and their existing per-file stats entries
    all carry unchanged); only the rewritten tail pays footer reads.
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
        df = _read_files(spark, rewrite)
        if not cluster_cols:
            out = df.repartition(target_files)
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
        return _Commit(
            new=new_files, keep=keep,
            stats={k: _file_stats(new_files, k) or {} for k in keys},
            result=lambda v: {
                "files_before": len(man["files"]),
                "files_after": len(keep) + len(new_files),
                "version": v,
            },
        )

    return _commit(table_dir, "compact",
                   f"compact-{uuid.uuid4().hex[:8]}", plan)


def _clone_referenced_dirs(table_dir: str) -> dict[str, set]:
    """Data directories under ``table_dir`` that a REGISTERED shallow
    clone (clone_table's ``_clones/*.json`` sidecars) still references
    in its LATEST manifest, as {clone_dir: {data_dir, ...}}. Stale
    registrations — clone directory gone, or the clone re-published
    past every source file — are deleted as they are discovered."""
    reg_dir = os.path.join(table_dir, "_clones")
    if not os.path.isdir(reg_dir):
        return {}
    prefix = os.path.abspath(table_dir) + os.sep
    out: dict[str, set] = {}
    for name in sorted(os.listdir(reg_dir)):
        if not name.endswith(".json"):
            continue
        path = os.path.join(reg_dir, name)
        try:
            with open(path) as f:
                clone_dir = json.load(f)["clone_dir"]
            man = latest_manifest(clone_dir)
        except (OSError, ValueError, KeyError):
            man = None
        refs = {
            os.path.dirname(p) for p in (man or {}).get("files", [])
            if os.path.abspath(p).startswith(prefix)
        }
        if refs:
            out.setdefault(clone_dir, set()).update(refs)
        else:
            # clone gone or fully diverged: registration is stale
            try:
                os.remove(path)
            except OSError:
                pass
    return out


def vacuum(table_dir: str, keep_versions: int = 2,
           retention_seconds: float = 3600.0,
           force: bool = False) -> dict:
    """Retire old versions: drop all but the newest ``keep_versions``
    manifests, then delete every data directory no surviving manifest
    references — which also sweeps orphans from writers that crashed
    before publishing. Time travel keeps working across the surviving
    versions; run with a retention matched to the audit window.

    Unreferenced dirs younger than ``retention_seconds`` are spared
    (Delta's VACUUM retention window): an in-flight writer has written
    data but not yet renamed its manifest, and sweeping its files would
    publish a manifest referencing nothing. Pass 0 only when no writer
    can be active.

    Shallow-clone protection: a data directory that a REGISTERED live
    clone (clone_table) still references is SKIPPED with a loud
    warning naming the clone — deleting it would corrupt the clone's
    reads. Pass ``force=True`` to delete anyway (after re-publishing
    or dropping the clone). Skipped dirs are reported under
    ``skipped_clone_referenced``.
    """
    import time

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
    import shutil
    import warnings

    clone_refs = {} if force else _clone_referenced_dirs(table_dir)
    protected: dict[str, list] = {}
    for clone_dir, dirs in clone_refs.items():
        for d in dirs:
            protected.setdefault(os.path.abspath(d), []).append(clone_dir)

    now = time.time()
    skipped_clone = 0
    for name in os.listdir(table_dir):
        full = os.path.join(table_dir, name)
        if name.startswith("data-") and os.path.isdir(full) and full not in live:
            if now - os.path.getmtime(full) < retention_seconds:
                continue  # possibly an in-flight writer's uncommitted files
            holders = protected.get(os.path.abspath(full))
            if holders:
                skipped_clone += 1
                warnings.warn(
                    f"vacuum({table_dir}): keeping {name} — still "
                    f"referenced by shallow clone(s) {sorted(holders)}; "
                    f"re-publish (compact) or drop the clone, or pass "
                    f"force=True to delete anyway",
                    stacklevel=2,
                )
                continue
            removed_files += sum(len(fs) for _, _, fs in os.walk(full))
            shutil.rmtree(full)
    return {
        "manifests_retired": len(retired),
        "data_dirs_live": len(live),
        "files_removed": removed_files,
        "skipped_clone_referenced": skipped_clone,
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
       stale for some live file — point reads / delete pruning then
       work from the manifest alone. Keys already fully covered are
       skipped without a footer read.
    3. VACUUM (opt-in: destroys time travel beyond ``keep_versions``)
       retires old manifests and unreferenced data under the retention
       window.

    Each step is the underlying primitive verbatim — same CAS guards,
    same idempotence — so maintain() adds policy, not new commit
    machinery. Returns the three step reports (None where a step
    didn't run)."""
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
