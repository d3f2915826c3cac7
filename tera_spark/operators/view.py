"""Current-view builder: op-log cells → visible cells.

This is the Spark re-expression of the reference's merge-on-read scan
path (`TabletIO::LowLevelScan` src/io/tablet_io.cc:939-1137 +
`DefaultCompactStrategy::ScanDrop` src/io/default_compact_strategy.cc:275-402
+ `AtomicMergeStrategy` src/io/atomic_merge_strategy.cc:59-109).

Semantics implemented, in order:

1. Illegal-CF drop — cells whose cf is not in the table schema vanish
   (ScanDrop → DropIllegalColumnFamily; row-delete marks exempt).
2. TTL — data ops (PUT/atomics) older than now - cf.ttl vanish
   (DropByLifeTime); delete marks never expire.
3. Tombstone masking, hierarchical and ts-inclusive: DEL_ROW masks the
   row, DEL_FAMILY masks (row, cf), DEL_QUALIFIERS masks
   (row, cf, qualifier), each masking every entry with ts <= mark.ts
   (the reference's `del_*_ts_ >= ts` checks). The mask of a masked
   mark is subsumed by its masker, so `max(mark ts)` per granularity
   is exact — no cascade needed.
4. DEL_QUALIFIER (single-version delete): the mark deletes the next
   surviving entry in (ts desc, op asc, seq desc) order. In the
   reference this is `last_type_ == TKT_DEL_QUALIFIER → skip`; since
   `last_type_` is updated for every surviving same-qualifier entry,
   "previous surviving entry is a mark" (a pure lag) is exact,
   including chained marks. A deleted PUT still counts against
   max_versions (ScanDrop increments version_num_ on the skip).
5. Atomic merge-on-read: only the *leading* run of atomic ops in a
   qualifier merges (any atomic op older than a PUT is dropped —
   "IsAtomicOP && has_put_"). The run plus the immediately following
   PUT (merge base, `merge_put_flag`) folds into ONE cell at the
   newest ts: ADD = big-endian int64 sum, ADDINT64 = little-endian
   sum, APPEND = ts-ascending concat, PUT_IFABSENT = oldest wins.
   Consecutive same-ts atomic entries dedupe (`ts != last_ts_atomic`);
   ops of a different atomic kind inside the run are consumed but
   ignored (AtomicMergeStrategy::MergeStep's type checks). The merged
   cell is version 1.
6. max_versions per cf: newest K visible versions survive.

Documented divergence: when max_versions > 1 the reference can emit a
*raw* atomic delta as an extra version (its merge only fires on the
first entry of a qualifier and ScanDrop lets orphan atomics through
when no newer PUT exists). We define the cleaner semantics — atomic
ops below the head run are never visible raw — and pin it in tests.

Plan shape: ONE full-size hash shuffle total, and NO cell-level sort.
A single hash aggregation on (row_key, cf, qualifier) collects each
column's ops and its qualifier-level delete maxima; row/cf-level
masks arrive by ONE LEFT JOIN of one tiny mark aggregate keyed by
row_key (delete marks are rare by construction, so it is broadcast —
one small exchange, zero sorts; mass-delete pathologies degrade to a
keyed join). Masking filters the collected arrays. All sequential
per-qualifier logic runs JVM-side over those arrays via higher-order
functions; no Python UDFs. Narrow op mixes route to cheaper
specialized folds (``fold_route`` below), and when the op kinds rule
out row and family deletes the mark aggregates and their joins are not
built at all. This is the property set that keeps the view viable at
100 TB.

Construction cost: every route is built from SQL text (``F.expr`` /
``selectExpr``), never composed Column node by node, because each node
is one py4j round trip and the fold is rebuilt per scan, view and
compaction. One construction costs ~50-150 round trips (composed node
by node, the general fold cost ~2,900); tests/test_view_model.py
bounds it at 300 for the general route and 200 for every other. Only
engine constants (op codes, seqs, ``now_us``, schema cf names through
``sql_string``) are spliced into that text; user values stay ``F.lit``
parameters.
"""

from __future__ import annotations

import time
from collections.abc import Collection

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tera_spark.functions.codecs import (
    be_i64_decode_sql,
    be_i64_encode_sql,
    le_i64_decode_sql,
    le_i64_encode_sql,
)
from tera_spark.model import CellOp
from tera_spark.registry import TableSchema

_ENTRY_T = "array<struct<ts:bigint,value:binary>>"
# sorted-entry struct type (nts/sop/nseq sort key) for empty-array casts
_SORTED_T = "array<struct<nts:bigint,sop:int,nseq:bigint,value:binary>>"
_KEY = ("row_key", "cf", "qualifier")


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal. Only engine-side names (schema
    cf names) are spliced into fold SQL through this; user values (row
    keys, qualifiers, scan bounds) stay ``F.lit`` parameters."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _cf_map_sql(schema: TableSchema | None, prop: str) -> str:
    """SQL text of a cf name → ``prop`` map (NULL map without a schema)."""
    if schema is None or not schema.column_families:
        return "cast(NULL as map<string,int>)"
    pairs = [f"{sql_string(cf.name)}, {int(getattr(cf, prop))}" for cf in schema.column_families.values()]
    return f"map({', '.join(pairs)})"


def fold_route(op_kinds: Collection[int] | None) -> str:
    """The fold a promised op mix takes (see current_view):
    ``put_only``, ``counter``, ``merge_free`` or ``general``."""
    if op_kinds is None:
        return "general"
    kinds = set(op_kinds)
    if kinds <= {CellOp.PUT}:
        return "put_only"
    if kinds in ({CellOp.ADD}, {CellOp.ADDINT64}):
        return "counter"
    if kinds <= {CellOp.PUT, *CellOp.DELETES}:
        return "merge_free"
    return "general"


def current_view(
    cells: DataFrame,
    schema: TableSchema | None = None,
    *,
    now_us: int | None = None,
    default_max_versions: int = 1,
    snapshot_seq: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    """Fold an op-log cell DataFrame into the visible-cell view.

    Columns in: row_key, cf, qualifier, ts, op (int code), value
    [, seq]. Columns out: row_key, cf, qualifier, ts, value.

    ``snapshot_seq`` reads the table as of a write sequence (reference:
    snapshot reads, SnapshotIDToSeq src/io/tablet_io.cc:698-706).

    ``op_kinds`` is a caller PROMISE: the set of ``CellOp`` codes the
    op-log may contain (a superset is sound; ``None`` = unknown). The
    reference's compact strategy likewise short-circuits when no
    merge/delete records exist. ``fold_route`` maps it to the fold:
    PUT-only → one map-side-partial ``max_by`` aggregation at
    maxversions=1 (a sliced sort for K>1); pure ADD or pure ADDINT64
    → two stacked hash aggregations (same-ts dedup, then SUM); no
    atomics → the mask machinery without merge-run detection; any
    other or unknown mix → the general fold. The mark joins of the
    last two are built only when the promise admits a DEL_ROW or
    DEL_FAMILY. Every route is cell-identical to the general fold on
    a log its promise covers (property-tested). Catalog-managed tables
    pass the op kinds recorded at commit time
    (Catalog._op_kinds_union); hand-built op-logs declare the kinds
    they build."""
    now_us = int(time.time() * 1_000_000 if now_us is None else now_us)
    df = cells
    columns = df.columns
    if "seq" not in columns:
        df = df.withColumn("seq", F.expr("cast(0 as bigint)"))

    # --- phase A: cheap row-local pre-filters, one SQL-text filter ----
    # Delete *marks* must survive to the aggregation: row-delete marks
    # carry cf="" (exempt from cf legality), family/qualifiers marks for
    # legal cfs pass the filter, and TTL only applies to data ops.
    conds = []
    if snapshot_seq is not None:
        conds.append(f"seq <= {int(snapshot_seq)}")
    if "expire_ts" in columns:
        # per-cell TTL (RowMutation::Put(value, ttl), mutation.h:30-33):
        # only puts carry it; NULL/0 = eternal
        conds.append(f"(expire_ts IS NULL OR expire_ts <= 0 OR expire_ts > {now_us})")
    if schema is not None and schema.column_families:
        legal = ", ".join(sql_string(cf.name) for cf in schema.column_families.values())
        conds.append(f"(cf IN ({legal}) OR op = {CellOp.DEL_ROW})")
        ttl_s = f"coalesce({_cf_map_sql(schema, 'ttl')}[cf], 0)"
        conds.append(
            f"NOT (op >= {CellOp.PUT} AND {ttl_s} > 0 "
            f"AND ts < {now_us} - cast({ttl_s} as bigint) * 1000000)"
        )
    if conds:
        df = df.filter(F.expr(" AND ".join(conds)))

    maxv = f"coalesce({_cf_map_sql(schema, 'max_versions')}[cf], {int(default_max_versions)})"

    route = fold_route(op_kinds)
    if route == "put_only":
        return _put_only_fold(df, schema, maxv, default_max_versions)
    if route == "counter":
        return _counter_only_fold(df, min(op_kinds))

    # --- phase B: one hash aggregation collects each qualifier's ops
    # AND its qualifier-level delete maxima; masking happens on the
    # collected arrays, all of it SQL text (module docstring:
    # construction cost). Row/cf-granularity delete marks never appear
    # in `entries` (the mask filter below drops them wholesale — their
    # ts maxima reach the mask via the mark joins), so keep them out of
    # the collect stream entirely: the big aggregation and its
    # full-size exchange then carry only ops that can survive. On a
    # union-built op-log a constant-op delete branch constant-folds to
    # nothing (one fewer scan); on a parquet op-log the `op` predicate
    # pushes to the reader. DEL_QUALIFIERS stays in-stream (it feeds
    # _del_qu), as does DEL_QUALIFIER (it arms the sequential pass).
    marks = op_kinds is None or bool({CellOp.DEL_ROW, CellOp.DEL_FAMILY} & set(op_kinds))
    marked = f"op IN ({CellOp.DEL_ROW}, {CellOp.DEL_FAMILY})"
    data = df.filter(F.expr(f"NOT ({marked})")) if marks else df
    grouped = (
        data.groupBy(*_KEY)
        .agg(
            # slim 4-field entry: ts/op ride inside the negated
            # sort keys (ts = -nts, op = sop) — 25% less agg
            # buffer + shuffle width than duplicating them.
            # DEL_QUALIFIERS rows stay in the stream only for the
            # _del_qu max below: collect_list skips the NULL the CASE
            # yields for them, so their structs never enter the agg
            # buffer or the exchange (like DEL_ROW/DEL_FAMILY above,
            # they could never survive the mask filter; the kept
            # subset of a sorted array is the same either way).
            F.expr(
                f"sort_array(collect_list(case when op <> {CellOp.DEL_QUALIFIERS} "
                "then named_struct("
                "'nts', -ts, 'sop', op, 'nseq', -seq, 'value', value) end)) as entries_raw"
            ),
            F.expr(f"max(case when op = {CellOp.DEL_QUALIFIERS} then ts end) as _del_qu"),
        )
        .withColumn("maxv", F.expr(maxv))
    )
    neg = f"{-(1 << 62)}L"
    mask = f"coalesce(_del_qu, {neg})"
    if marks:
        # row/cf-granularity masks arrive by ONE left join on row_key of
        # ONE tiny mark aggregate, not by windows over the grouped rows:
        # delete marks are rare by construction (they exist to be
        # compacted away), so the mark side is broadcast and the plan
        # keeps ONE full-size exchange — the window form forced a second
        # exchange on row_key plus two sorts of every aggregated row.
        # Mass-delete pathologies degrade to a keyed join on row_key.
        # The aggregate reads the marks in one scan (column-pruned to
        # row_key/cf/ts/op, `op IN (...)` pushed to the parquet reader:
        # row-group op min/max stats skip delete-free files) and keeps
        # per row the DEL_ROW max and the (cf, ts) of each DEL_FAMILY
        # mark; a grouped column takes its cf's max from that list.
        # When the op kinds rule out both mark kinds, the marks are
        # empty by the same promise fold_route relies on, and neither
        # the aggregate nor the join is built.
        row_marks = df.filter(F.expr(marked)).groupBy("row_key").agg(
            F.expr(f"max(case when op = {CellOp.DEL_ROW} then ts end) as _del_row"),
            F.expr(f"collect_list(case when op = {CellOp.DEL_FAMILY} "
                   "then named_struct('cf', cf, 'ts', ts) end) as _del_cfs"),
        )
        grouped = grouped.join(row_marks, "row_key", "left")
        del_cf = f"aggregate(_del_cfs, {neg}, (a, m) -> if(m.cf = cf, greatest(a, m.ts), a))"
        mask = f"greatest(coalesce(_del_row, {neg}), coalesce({del_cf}, {neg}), {mask})"
    # entries_raw holds no DEL_ROW/DEL_FAMILY/DEL_QUALIFIERS structs
    # (prefiltered / skipped by the collect above): only the ts mask
    entries = f"filter(entries_raw, x -> -x.nts > {mask}) as entries"

    if route == "merge_free":
        # PUTs + deletes only: every merge run would be empty, so the
        # whole group is one sequential pass — no run detection, no
        # dedup/merge folds (the expression tree the hot loop skips)
        staged = grouped.selectExpr(*_KEY, "maxv", entries)
        return _explode(staged, _seq_pass("entries", "0"))

    put = CellOp.PUT
    atomic = f"IN ({', '.join(str(k) for k in sorted(CellOp.ATOMIC))})"
    # one projection, staged by lateral column aliases: each staged
    # column is computed once per group, not once per reference (the
    # little-endian encoder alone references its input 8×, one per
    # byte pair; inlined, each re-ran the fold)
    staged = grouped.selectExpr(
        *_KEY, "maxv", entries,
        # head run of atomic ops (merge candidates)
        "aggregate(entries, named_struct('n', 0, 'stop', false), (acc, x) -> named_struct("
        f"'n', CASE WHEN NOT acc.stop AND x.sop {atomic} THEN acc.n + 1 ELSE acc.n END, "
        f"'stop', acc.stop OR NOT x.sop {atomic})).n as run_len",
        # the run plus the PUT right after it (the merge base)
        "run_len + CASE WHEN run_len > 0 AND size(entries) > run_len "
        f"AND get(entries, run_len).sop = {put} THEN 1 ELSE 0 END as group_len",
        "slice(entries, 1, group_len) as grp",
        "CASE WHEN size(entries) > group_len "
        "THEN slice(entries, group_len + 1, size(entries) - group_len) "
        f"ELSE cast(array() as {_SORTED_T}) END as rest",
        "get(entries, 0).sop as kind",
        # same-ts dedup inside the merge group (ts != last_ts_atomic ||
        # VALUE), then the entries the merge kind folds (matching
        # atomic kind or PUT base)
        f"filter(filter(grp, (x, i) -> x.sop = {put} OR i = 0 OR x.nts != get(grp, i - 1).nts), "
        f"x -> x.sop = kind OR x.sop = {put}) as mergeable",
        # ADDINT64 decodes little-endian for deltas AND the PUT base
        # alike (MergeStep: `int64_ += *(int64_t*)value.data()` for both)
        f"CASE kind WHEN {CellOp.ADD} "
        f"THEN aggregate(mergeable, 0L, (acc, x) -> acc + {be_i64_decode_sql('x.value')}) "
        f"WHEN {CellOp.ADDINT64} "
        f"THEN aggregate(mergeable, 0L, (acc, x) -> acc + {le_i64_decode_sql('x.value')}) "
        "END as sum_long",
    )
    merged_value = (
        f"CASE kind WHEN {CellOp.ADD} THEN {be_i64_encode_sql('sum_long')} "
        f"WHEN {CellOp.ADDINT64} THEN {le_i64_encode_sql('sum_long')} "
        # APPEND: ts-ascending concat; PUT_IFABSENT: oldest wins
        f"WHEN {CellOp.APPEND} THEN aggregate(reverse(mergeable), X'', (acc, x) -> concat(acc, x.value)) "
        "ELSE get(mergeable, size(mergeable) - 1).value END"
    )
    merged_cell = (
        "CASE WHEN run_len > 0 AND maxv >= 1 "
        f"THEN array(named_struct('ts', -get(entries, 0).nts, 'value', {merged_value})) "
        f"ELSE cast(array() as {_ENTRY_T}) END"
    )
    # sequential pass over the remainder: DEL_QUALIFIER arming + version cap
    rest_out = _seq_pass("rest", "CASE WHEN run_len > 0 THEN 1 ELSE 0 END")
    return _explode(staged, f"concat({merged_cell}, {rest_out})")


def _seq_pass(arr_sql: str, init_vnum_sql: str) -> str:
    """SQL text of the sequential per-group pass: DEL_QUALIFIER arming
    + version cap. ``arr_sql`` / ``init_vnum_sql`` are SQL fragments
    over the staged columns (entries/rest/run_len/maxv)."""
    put, dq = CellOp.PUT, CellOp.DEL_QUALIFIER
    vnum2 = f"(acc.vnum + (case when x.sop = {put} then 1 else 0 end))"
    emit = f"((x.sop = {put}) and (not (acc.prev = {dq})) and ({vnum2} <= maxv))"
    return (
        "aggregate("
        f"{arr_sql}, "
        f"named_struct('out', cast(array() as {_ENTRY_T}), "
        f"'vnum', {init_vnum_sql}, 'prev', 0), "
        "(acc, x) -> named_struct("
        f"'out', case when {emit} then "
        "concat(acc.out, array(named_struct('ts', -x.nts, 'value', x.value))) "
        "else acc.out end, "
        f"'vnum', {vnum2}, "
        "'prev', x.sop)"
        ").out"
    )


def _explode(grouped: DataFrame, versions_sql: str, ts: str = "v.ts") -> DataFrame:
    """One output cell per element of the per-group version array."""
    return grouped.selectExpr(*_KEY, f"explode({versions_sql}) as v").selectExpr(
        *_KEY, f"{ts} as ts", "v.value as value"
    )


def _put_only_fold(
    df: DataFrame,
    schema: TableSchema | None,
    maxv: str,
    default_max_versions: int,
) -> DataFrame:
    """Visible view of a PUT-only op-log (pre-filtered by phase A).

    K=1 everywhere → one hash aggregation with map-side partial
    ``max_by(struct(ts,value), struct(ts,seq))`` — the newest write
    wins, ties by seq, exactly the general path's sort order with sop
    constant. No per-group arrays, no windows: at 100 TB this is the
    same shape as any partial+final agg and the map-side combine
    collapses hot qualifiers before the exchange.

    Mixed/larger K → collect+sort as the general path does, but slice
    the top-K entries directly (no delete masks, no merge-run
    scanning)."""
    all_k1 = (
        all(cf.max_versions == 1 for cf in schema.column_families.values())
        if schema is not None and schema.column_families
        else default_max_versions == 1
    )
    if all_k1:
        return (
            df.groupBy(*_KEY)
            .agg(F.expr("max_by(struct(ts, value), struct(ts, seq)) as _b"))
            .selectExpr(*_KEY, "_b.ts as ts", "_b.value as value")
        )
    entries = (
        "slice(sort_array(collect_list(struct(-ts AS nts, -seq AS nseq, value))), "
        f"1, {maxv}) as _e"
    )
    return _explode(df.groupBy(*_KEY).agg(F.expr(entries)), "_e", ts="-v.nts")


def _counter_only_fold(df: DataFrame, kind: int) -> DataFrame:
    """Visible view of a pure-counter op-log (ADD xor ADDINT64 only,
    pre-filtered by phase A): per column, entries with the same ts
    collapse to the max-seq one (the general fold's same-ts dedup),
    then deltas SUM and the newest ts labels the merged cell — two
    stacked hash aggregations on the same key prefix, so Catalyst
    plans ONE exchange and both aggregations partial map-side. No
    arrays, no merge-run scanning; maxversions is irrelevant (a merge
    emits one cell)."""
    dec = be_i64_decode_sql if kind == CellOp.ADD else le_i64_decode_sql
    enc = be_i64_encode_sql if kind == CellOp.ADD else le_i64_encode_sql
    per_ts = df.groupBy(*_KEY, "ts").agg(F.expr("max_by(value, seq) as value"))
    total = enc(f"sum({dec('value')})")
    return per_ts.groupBy(*_KEY).agg(F.expr("max(ts) as ts"), F.expr(f"{total} as value"))


def kv_current_view(kv_oplog: DataFrame, *, now_us: int | None = None) -> DataFrame:
    """Fold an append-only KV op-log (key, value, expire_ts, seq) into
    the visible KV table: last-write-wins by seq per key (LevelDB
    put/overwrite in KV mode), NULL-value rows are delete tombstones,
    then TTL visibility (kv_view). One hash aggregation keyed by
    `key` — map-side partial max_by collapses duplicates before the
    shuffle, the same single-exchange stance as current_view."""
    newest = kv_oplog.groupBy("key").agg(
        F.max_by(F.struct("value", "expire_ts"), F.col("seq")).alias("_n")
    )
    live = newest.select(
        "key",
        F.col("_n.value").alias("value"),
        F.col("_n.expire_ts").alias("expire_ts"),
    ).filter(F.col("value").isNotNull())
    return kv_view(live, now_us=now_us)


def kv_view(kv: DataFrame, *, now_us: int | None = None) -> DataFrame:
    """KV-mode visibility: drop expired keys (TTLKV, reference
    src/io/ttlkv_compact_strategy.cc:43-70; expire_ts NULL/0 = eternal)."""
    if now_us is None:
        now_us = int(time.time() * 1_000_000)
    keep = F.col("expire_ts").isNull() | (F.col("expire_ts") <= 0) | (F.col("expire_ts") > F.lit(now_us))
    return kv.filter(keep)


def latest_view(cells: DataFrame, schema: TableSchema | None = None, **kw) -> DataFrame:
    """max_versions=1 convenience: one newest visible cell per column."""
    v = current_view(cells, schema, **kw)
    w = Window.partitionBy("row_key", "cf", "qualifier").orderBy(F.desc("ts"))
    return v.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def changes_between(
    cells: DataFrame,
    schema: TableSchema | None = None,
    *,
    seq_start: int,
    seq_end: int | None = None,
    now_us: int | None = None,
    op_kinds: Collection[int] | None = None,
) -> DataFrame:
    """Changefeed between two write sequences: per (row_key, cf,
    qualifier), diff the newest visible value as-of ``seq_start``
    against as-of ``seq_end`` (None = all writes) and emit
    INSERT/UPDATE/DELETE rows; unchanged columns are dropped. The CDC
    analog tera lacks (clients re-scan; observers see single cells) —
    snapshot reads (SnapshotIDToSeq, src/io/tablet_io.cc:698-706) give
    the two endpoints, this computes the delta set between them.

    Scale shape: only rows whose row_key saw a write AFTER seq_start
    can appear in the diff, so both endpoint folds are restricted to
    those *dirty keys* first — a column-pruned scan of (row_key, seq)
    finds them (Parquet row-group min/max on seq skips old files,
    since an append-only op-log correlates seq with file order), and a
    semi-join bounds both folds by dirty history instead of the full
    table. The folds and the full-outer diff then share one hash
    clustering on row_key; output is change-set-sized."""
    if "seq" not in cells.columns:
        cells = cells.withColumn("seq", F.lit(0).cast("long"))
    dirty_pred = F.col("seq") > F.lit(seq_start)
    if seq_end is not None:
        dirty_pred = dirty_pred & (F.col("seq") <= F.lit(seq_end))
    dirty = cells.filter(dirty_pred).select("row_key").distinct()
    scoped = cells.join(dirty, "row_key", "left_semi")
    v0 = latest_view(
        scoped, schema, snapshot_seq=seq_start, now_us=now_us, op_kinds=op_kinds
    ).select(
        "row_key", "cf", "qualifier", F.col("value").alias("old_value")
    )
    v1 = latest_view(
        scoped, schema, snapshot_seq=seq_end, now_us=now_us, op_kinds=op_kinds
    ).select(
        "row_key", "cf", "qualifier", F.col("value").alias("new_value")
    )
    j = v0.join(v1, ["row_key", "cf", "qualifier"], "full_outer")
    change = (
        F.when(F.col("old_value").isNull(), F.lit("INSERT"))
        .when(F.col("new_value").isNull(), F.lit("DELETE"))
        .when(F.col("old_value") != F.col("new_value"), F.lit("UPDATE"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select("row_key", "cf", "qualifier", "change_type", "old_value", "new_value")
    )
