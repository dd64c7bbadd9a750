"""Incremental rollup refresh (SURVEY §4 'Incremental refresh').

The reference delegates refresh to Lakeflow pipelines which are
"incremental whenever possible" (``README.md:118``); full recompute lives
in ``plans/rollup.py``. This module adds the incremental path, built on the
partial-state property that makes rollups re-aggregable in the first
place:

    rollup(S ∪ ΔS) = merge(rollup(S), rollup(ΔS))

* :func:`fold_increment` — batch fold: aggregate only the new rows to
  partial states and merge them into the stored rollup (read old + union +
  re-merge + swap-write). At 100 TB this touches |rollup| + |Δ| rows, not
  the full source.
* :func:`streaming_rollup` — Structured Streaming form: `readStream` over
  an append-only directory, `trigger(availableNow=True)`, `foreachBatch`
  folding each micro-batch with the same merge — exactly-once per batch
  via the checkpoint dir.
"""

from __future__ import annotations

import os


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from ..functions.aggregates import merge_column
from ..plans.rollup import BuiltRollup, _write_counted


def _partial_agg(delta: DataFrame, built: BuiltRollup) -> DataFrame:
    """Aggregate a slice of source rows to the rollup's partial layout."""
    partial_cols: dict[str, str] = {}
    for dec in built.decompositions.values():
        for p_expr, p_col in dec.partials:
            partial_cols[p_col] = p_expr
    return delta.groupBy(*[F.col(d) for d in built.spec.dimensions]).agg(
        *[F.expr(e).alias(c) for c, e in partial_cols.items()]
    )


def merge_partials(old: DataFrame, delta_partials: DataFrame, built: BuiltRollup) -> DataFrame:
    """merge(rollup(S), rollup(ΔS)) — re-aggregate the union of partial
    states with each partial's merge function."""
    merged_cols = []
    seen: set[str] = set()
    for dec in built.decompositions.values():
        for p_col, fn in dec.merges.items():
            if p_col not in seen:
                seen.add(p_col)
                merged_cols.append(merge_column(fn, p_col).alias(p_col))
    return (
        old.unionByName(delta_partials)
        .groupBy(*[F.col(d) for d in built.spec.dimensions])
        .agg(*merged_cols)
    )


def fold_increment(
    spark: SparkSession, built: BuiltRollup, delta_source_rows: DataFrame
) -> None:
    """Fold new source rows into the stored rollup, atomically (swap-write).

    `delta_source_rows` must be the same relation shape the rollup was
    built from (the metric view's filtered+joined source) restricted to
    the *new* rows — e.g. the latest date partition. Updates
    ``built.n_rows`` to the rows now stored.
    """
    delta = _partial_agg(delta_source_rows, built)
    old = spark.read.parquet(built.path)
    built.n_rows = _write_counted(merge_partials(old, delta, built), spark, built.path)


def streaming_rollup(
    spark: SparkSession,
    built: BuiltRollup,
    source_dir: str,
    checkpoint_dir: str,
    schema=None,
    max_files_per_trigger: int | None = None,
):
    """Maintain a rollup from an append-only parquet directory with
    Structured Streaming (`availableNow` = catch up on everything new,
    then stop — the scheduled-batch semantics of the reference's
    `schedule: every 6 hours`, `models/schema.yml:106-108`).
    ``max_files_per_trigger`` bounds each micro-batch (availableNow
    honors it), forcing the old⊕delta merge path to run repeatedly —
    the steady-state shape of a long-lived maintenance stream."""
    if schema is None:
        schema = spark.read.parquet(source_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = _partial_agg(batch_df, built)
        if os.path.exists(built.path):
            old = batch_df.sparkSession.read.parquet(built.path)
            merged = merge_partials(old, delta, built)
        else:
            merged = delta
        built.n_rows = _write_counted(merged, batch_df.sparkSession, built.path)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def validate_retractable(built: BuiltRollup) -> str:
    """Raise unless *built* can be maintained by retraction folds; returns
    the rollup's ``count(*)``/``count(1)`` partial column. Two
    preconditions: (a) every merge fn is ``sum`` (min/max/sketch partials
    cannot subtract a departed row), and (b) a row-count partial exists —
    without one, a fully-retracted group is indistinguishable from a live
    group whose sums happen to be zero, so fold-vs-rebuild equivalence
    would break (add an ``n: count(*)`` measure to the rollup)."""
    import re

    bad = sorted(
        {
            fn
            for dec in built.decompositions.values()
            for fn in dec.merges.values()
            if fn != "sum"
        }
    )
    if bad:
        raise ValueError(
            f"fold_retractions: rollup {built.spec.name!r} has "
            f"non-retractable partials (merge fns {bad}) — min/max/sketch "
            f"partials cannot subtract a departed row; rebuild instead"
        )
    for dec in built.decompositions.values():
        for p_expr, p_col in dec.partials:
            if re.fullmatch(r"count\(\s*(\*|1)\s*\)", p_expr.strip().lower()):
                return p_col
    raise ValueError(
        f"fold_retractions: rollup {built.spec.name!r} has no count(*) "
        f"partial — retraction folds need a row count to prune fully-"
        f"retracted groups exactly (count_if/count(col) partials can be "
        f"legitimately 0 for live groups); add an 'n: count(*)' measure "
        f"to the rollup"
    )


def fold_retractions(
    spark: SparkSession,
    built: BuiltRollup,
    before: DataFrame,
    after: DataFrame,
) -> None:
    """Upsert/delete-aware incremental maintenance — the CDC complement
    of :func:`fold_increment`: fold one change batch's PRE-images (rows
    leaving the table: deletes + old versions of updates) and
    POST-images (inserts + new versions) into the stored rollup in one
    swap-write, via

        rollup(S ∪ ΔS⁺ ∖ ΔS⁻) = merge(rollup(S), rollup(ΔS⁺), −rollup(ΔS⁻))

    Sum-mergeable partials (sum/count/count_if and composites built from
    them, incl. avg's (sum, count) pair) retract EXACTLY by merging the
    NEGATED pre-image partials; :func:`validate_retractable` states the
    preconditions (all-sum merges + a ``count(*)`` partial, which prunes
    fully-retracted groups exactly — fold-vs-rebuild equivalence is
    tested). Retraction of FLOAT sums is exact only up to
    summation-order jitter; keep money partials on the int64 cent grid
    (the repo-wide discipline) for bit-exact maintenance. A missing
    rollup path bootstraps from the batch itself (first-batch
    semantics, like :func:`streaming_rollup`) — including a
    SELF-CONTAINED batch whose pre-images retract rows inserted earlier
    in the same batch (insert + update in one micro-batch nets
    correctly). What it refuses is a changelog that starts MID-HISTORY
    (retracting rows the state never held), detected by the exact
    witnesses such a batch leaves in the merged state: a negative
    count partial, or a zero count with surviving non-zero mass (no
    rows ⇒ ALL partials zero; a mid-history update nets count to 0 but
    leaves Σ(new−old) behind). Both would otherwise persist silently
    wrong state (ADVICE r4 + review round 5).

    Cost: |rollup| + |Δ| rows, like fold_increment — an upsert stream at
    100 TB never re-reads the source.
    """
    count_col = validate_retractable(built)
    dims = list(built.spec.dimensions)
    pos = _partial_agg(after, built)
    pcols = [c for c in pos.columns if c not in dims]
    neg = _partial_agg(before, built).select(
        *[F.col(d) for d in dims],
        *[(-F.col(c)).alias(c) for c in pcols],
    )
    bootstrap = not os.path.exists(built.path)
    if bootstrap:
        merged = merge_partials(pos, neg, built)
    else:
        merged = merge_partials(
            spark.read.parquet(built.path), pos.unionByName(neg), built
        )
    # Mid-history witness scan over the merged rows (|batch| when
    # bootstrapping, |state|+|batch| with state — one pass over the
    # persisted merge either way), BOTH paths (ADVICE r5): a
    # change batch retracting rows the state never held leaves exact
    # witnesses in the merged state — a negative count partial, or a
    # zero count with surviving non-zero mass (no rows ⇒ ALL partials
    # zero; a mid-history update nets count to 0 but leaves Σ(new−old)
    # behind). Integer partials witness exactly in both paths. Float
    # partials witness only in the bootstrap path (1e-9 band: true
    # self-cancellation there subtracts IDENTICAL doubles, exactly 0.0
    # per row); with pre-existing state, a stored float partial carries
    # summation-order residue vs the retracted values, so a float-mass
    # check would false-positive — the count witnesses still hold.
    count_zero = F.col(count_col) == 0
    leftovers = [
        (
            F.abs(F.coalesce(F.col(c), F.lit(0))) > 1e-9
            if dt in ("double", "float")
            else F.coalesce(F.col(c), F.lit(0)) != 0
        )
        for c, dt in merged.dtypes
        if c not in dims
        and c != count_col
        and (bootstrap or dt not in ("double", "float"))
    ]
    bad = F.col(count_col) < 0
    for lv in leftovers:
        bad = bad | (count_zero & lv)
    # The witness count RIDES THE WRITE as an observed metric instead of
    # running as its own job over a persisted merge (guide §1.2: one pass
    # where two ran — the old shape was witness-scan job + write job +
    # persist/unpersist). Safety is unchanged: the write goes to the swap
    # TEMP dir first, the observation is read after that job finishes,
    # and a dirty batch discards the temp dir without ever swapping — the
    # stored state is untouched on refusal, exactly as before. The
    # observation point sits ABOVE the zero-count prune so the witness
    # sees every merged row, like the old standalone scan did.
    import shutil
    import uuid

    from pyspark.sql import Observation

    # the surviving-row count (the rollup's new n_rows) rides the same
    # observation: the rows the zero-count prune below keeps
    kept = F.col(count_col) != 0
    ob = Observation()
    observed = merged.observe(
        ob, F.count_if(bad).alias("n_bad"), F.count_if(kept).alias("n")
    )
    tmp = f"{built.path}.tmp-{uuid.uuid4().hex[:8]}"
    observed.filter(kept).write.mode("overwrite").parquet(tmp)
    metrics = ob.get
    if int(metrics["n_bad"]) > 0:
        shutil.rmtree(tmp, ignore_errors=True)
        where = (
            f"no rollup state at {built.path!r} and the change batch"
            if bootstrap
            else f"the rollup state at {built.path!r} plus this change batch"
        )
        raise ValueError(
            f"fold_retractions: {where} retracts rows that were never "
            f"inserted (negative count partial, or zero count with "
            f"surviving mass) — a changelog starting mid-history cannot "
            f"be folded; build the rollup from a source snapshot first, "
            f"then fold changes"
        )
    if os.path.exists(built.path):
        shutil.rmtree(built.path)
    os.replace(tmp, built.path)
    built.n_rows = int(metrics["n"])


def streaming_rollup_cdc(
    spark: SparkSession,
    built: BuiltRollup,
    changelog_dir: str,
    checkpoint_dir: str,
    schema=None,
    op_col: str = "op",
    image_col: str = "image",
    max_files_per_trigger: int | None = None,
):
    """Maintain a rollup from a Debezium-style CHANGE LOG with Structured
    Streaming: each row is one change image — ``op`` ∈ insert/delete/
    update_before/update_after and ``image`` ∈ before/after marks which
    side of the fold the row belongs to (inserts and update_after are
    post-images; deletes and update_before are pre-images). Each
    micro-batch folds through :func:`fold_retractions` (negated
    pre-image partials), so the maintained state tracks upserts AND
    deletes — the append-only :func:`streaming_rollup` cannot.
    Exactly-once per batch via the checkpoint; ``availableNow`` gives
    the scheduled-catch-up semantics.

    The caller's log schema stays free-form: rows where
    ``image_col = 'before'`` retract, everything else folds forward —
    pass a projection upstream if the log encodes ops differently.
    """
    if schema is None:
        schema = spark.read.parquet(changelog_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(changelog_dir)
    payload_cols = [c for c in stream.columns if c not in (op_col, image_col)]

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # a NULL image would match NEITHER filter below and the change
        # would be silently lost — refuse the batch instead
        if not batch_df.filter(F.col(image_col).isNull()).isEmpty():
            raise ValueError(
                f"streaming_rollup_cdc: NULL {image_col!r} in change batch "
                f"{batch_id} — every log row must be marked before/after"
            )
        before = batch_df.filter(F.col(image_col) == "before").select(*payload_cols)
        after = batch_df.filter(F.col(image_col) != "before").select(*payload_cols)
        fold_retractions(batch_df.sparkSession, built, before, after)

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
