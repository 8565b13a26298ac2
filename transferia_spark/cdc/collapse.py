"""Collapse: fold a batch of I/U/D events per key into the net effect.

≈ ``pkg/abstract/changeitem/change_item_collapse.go:48-134`` in
transferia/transferia — the reference walks the batch per PK in order
and folds insert+update→insert, update+update→update, anything+delete→
delete (or nothing if the key was born in this batch), handling TOAST
partial updates by carrying forward the last non-null value per column.

Spark formulation: one shuffle —
``groupBy(pk).agg(max_by(payload, seq), ...)`` with per-column
last-non-null folding for toasted updates. The aggregation is
map-side-combinable, so at 100 TB the collapse happens mostly before
the shuffle; there is no per-key iteration on the driver.

PK-changing updates are normalized *first* (delete(old key) +
insert(new key)), exactly the rewrite the reference applies at sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from transferia_spark.cdc.exprcache import cached_exprs

from transferia_spark.cdc.changeitem import (
    BEFORE_COL,
    COUNTER_COL,
    LSN_COL,
    OP_COL,
    OP_DELETE,
    OP_INSERT,
    OP_UPDATE,
    REMOVED_COL,
    column_present,
    has_partial_rows,
    is_toasted,
    keys_changed,
    payload_columns,
)

# collapse(with_presence=True) output: struct<col:boolean> per key saying
# whether any event in the batch carried the column (distinct from the
# input-side PRESENT_COL, which is array<string> per row).
PRESENT_NET_COL = "_present_net"
# companion struct<col:boolean>: the key's NET write for the column is a
# REMOVAL (the seq-winning carrying event listed it in ``_removed``) —
# document sinks turn these into ``$unset`` instead of explicit nulls.
# Emitted only when the input declares a ``_removed`` marker.
REMOVED_NET_COL = "_removed_net"
# companion boolean: some event for this key carried a FULL row image
# (insert, replace, fullDocument update) — the key's folded values are
# a complete document, so a document sink may REPLACE. All-partial
# histories (every event a column-subset patch) must apply as update
# patches even when they happen to carry every declared column: the
# target document may hold fields outside the declared schema that a
# replace would wipe (code-review r14). Emitted with PRESENT_NET_COL.
FULL_NET_COL = "_full_net"


def normalize_pk_changes(df: DataFrame, keys: list[str]) -> DataFrame:
    """Rewrite PK-changing updates into delete(old)+insert(new).

    The delete keeps the same (lsn, counter); the insert gets counter+0.5
    ordering via a sub-counter so it sorts after the delete — we encode
    this by doubling counters: delete=2n, insert=2n+1 (others 2n).

    ONE pass over the batch and ONE projection: each row maps to an
    array of 1-2 row structs, ``inline``d straight into columns. The
    previous 3-way union (stable ∪ deletes ∪ inserts) referenced the
    batch THREE times in the plan — on a
    Python-datasource-backed micro-batch each reference re-executes the
    whole source decode (profiled at 3× numInputRows per merge, r11
    fixed-cost hunt), and no cache can help inside one job because the
    union branches schedule concurrently.
    """
    if BEFORE_COL not in df.columns:
        return df.withColumn(COUNTER_COL, F.col(COUNTER_COL) * 2)

    def build():
        changed = keys_changed(df, keys)
        keep = [c for c in df.columns if c != BEFORE_COL]
        types = {f.name: f.dataType for f in df.schema.fields}

        def stable_f(c):
            if c == COUNTER_COL:
                return (F.col(COUNTER_COL) * 2).alias(c)
            return F.col(c).alias(c)

        def delete_f(c):
            # exactly the old deletes-branch shape: keys from the
            # pre-image, payload NULL, op='d', same lsn, counter 2n,
            # _commit_ts carried; everything else (markers, routing)
            # rode in as NULL via allowMissingColumns
            if c in keys:
                return F.col(f"{BEFORE_COL}.{c}").cast(types[c]).alias(c)
            if c == OP_COL:
                return F.lit(OP_DELETE).alias(c)
            if c == COUNTER_COL:
                return (F.col(COUNTER_COL) * 2).alias(c)
            if c == LSN_COL or c == "_commit_ts":
                return F.col(c).alias(c)
            return F.lit(None).cast(types[c]).alias(c)

        def insert_f(c):
            if c == OP_COL:
                return F.lit(OP_INSERT).alias(c)
            if c == COUNTER_COL:
                return (F.col(COUNTER_COL) * 2 + 1).alias(c)
            return F.col(c).alias(c)

        stable_s = F.struct(*[stable_f(c) for c in keep])
        delete_s = F.struct(*[delete_f(c) for c in keep])
        insert_s = F.struct(*[insert_f(c) for c in keep])
        return F.when(changed, F.array(delete_s, insert_s)).otherwise(
            F.array(stable_s)
        )

    inlined = cached_exprs(
        ("pkchg", df.schema.json(), tuple(keys)),
        lambda: F.inline(build()),
    )
    return df.select(inlined)


def collapse(
    df: DataFrame,
    keys: list[str],
    toast_aware: bool | None = None,
    with_presence: bool = False,
) -> DataFrame:
    """Net effect per key for one batch.

    Returns one row per key with the final payload and final ``_op``
    (insert/update/delete); keys whose last event is a delete come out
    with ``_op='d'`` and NULL non-key payload. Order inside the batch is
    (lsn, counter) — never wall-clock.

    ``toast_aware=None`` (default) auto-detects: column-wise folding is
    applied only when the frame declares a partial-row marker
    (``_toasted`` / ``_present``), and then only to the flagged rows —
    a full row's NULL is a genuine ``SET col = NULL`` and overwrites
    (≈ ``change_item_collapse.go`` compareColumns: absent-by-name vs
    present-with-NULL). Passing ``toast_aware=True`` on a frame with no
    marker falls back to the legacy blanket last-non-null fold.

    ``with_presence=True`` additionally emits ``_present_net`` on the
    output as a struct<col:boolean> recording whether any event for the key
    actually carried each column — merge needs this to keep the target's
    value for columns absent from the whole batch while still applying
    genuine NULLs. Both the value fold and the presence bit are plain
    map-side-combinable aggregates: still one shuffle.
    """
    if toast_aware is None:
        toast_aware = has_partial_rows(df)
    # cache key from the INPUT schema: the normalized frame's schema is
    # a pure function of it, and asking the normalized frame would
    # force a fresh analysis round trip on every batch (cache misses
    # the point if computing the key costs what the build did)
    in_schema = df.schema.json()
    df = normalize_pk_changes(df, keys)

    def build():
        payload = [c for c in payload_columns(df) if c not in keys]
        seq = F.struct(F.col(LSN_COL), F.col(COUNTER_COL))
        marked = has_partial_rows(df)
        track_removed = with_presence and REMOVED_COL in df.columns

        aggs = [
            F.max_by(F.col(OP_COL), seq).alias("_last_op"),
            F.min_by(F.col(OP_COL), seq).alias("_first_op"),
            F.max(F.col(LSN_COL)).alias(LSN_COL),
            F.max(F.col(COUNTER_COL)).alias(COUNTER_COL),
        ]
        for c in payload:
            if toast_aware and marked:
                # fold only over events that actually carry the column;
                # a full row's NULL is carried and so wins by seq.
                carried = column_present(df, c)
            elif toast_aware:
                # legacy escape hatch: no marker on the frame, caller
                # still asked for toast folding → blanket last-non-null.
                carried = F.col(c).isNotNull()
            else:
                carried = F.lit(True)
            aggs.append(F.max_by(F.col(c), F.when(carried, seq)).alias(c))
            if with_presence:
                aggs.append(
                    F.max(F.when(carried, F.lit(True))).alias(f"_has_{c}")
                )
            if track_removed:
                # the removed bit of the SEQ-WINNING carrying event: a
                # later $set clears an earlier $unset and vice versa
                removed_c = F.coalesce(
                    F.array_contains(F.col(REMOVED_COL), F.lit(c)),
                    F.lit(False),
                )
                aggs.append(
                    F.max_by(removed_c, F.when(carried, seq)).alias(
                        f"_rm_{c}"
                    )
                )
        if with_presence:
            # did ANY event for the key carry a full row image?
            # (delete events carry no image; marker-less frames are
            # all-full by the has_partial_rows contract)
            full_row = (
                ~is_toasted(df, keys) & (F.col(OP_COL) != OP_DELETE)
            )
            aggs.append(
                F.max(F.when(full_row, F.lit(True))).alias("_full")
            )

        # A key inserted AND deleted within the batch nets to a DELETE,
        # not to nothing: eliding it is only sound when the key is also
        # absent from the MERGE target, which a batch cannot know
        # (at-least-once replay and micro-batch re-splitting both place
        # a prior insert for the same key in an earlier batch). An
        # idempotent delete keeps one-shot results identical (delete of
        # an absent key is a no-op in merge_batch) and makes split
        # application batch-size independent (r3 verdict "What's wrong"
        # §1; falsifying log [i(2) | i(2), d(2)] pinned in
        # test_cdc_property.py).
        final_op = (
            F.when(F.col("_last_op") == OP_DELETE, OP_DELETE)
            .when(F.col("_first_op") == OP_INSERT, OP_INSERT)
            .otherwise(OP_UPDATE)
        )
        null_if_deleted = [
            F.when(F.col("_last_op") == OP_DELETE, F.lit(None))
            .otherwise(F.col(c))
            .alias(c)
            for c in payload
        ]
        extra = []
        if with_presence:
            extra.append(
                F.struct(
                    *[
                        F.coalesce(F.col(f"_has_{c}"), F.lit(False)).alias(c)
                        for c in payload
                    ]
                ).alias(PRESENT_NET_COL)
            )
            extra.append(
                F.coalesce(F.col("_full"), F.lit(False)).alias(
                    FULL_NET_COL
                )
            )
        if track_removed:
            extra.append(
                F.struct(
                    *[
                        F.coalesce(F.col(f"_rm_{c}"), F.lit(False)).alias(c)
                        for c in payload
                    ]
                ).alias(REMOVED_NET_COL)
            )
        select_cols = [
            *[F.col(k) for k in keys],
            *null_if_deleted,
            final_op.alias(OP_COL),
            F.col(LSN_COL),
            F.col(COUNTER_COL),
            *extra,
        ]
        return tuple(aggs), tuple(select_cols)

    ckey = (
        "collapse", in_schema, tuple(keys),
        bool(toast_aware), bool(with_presence),
    )
    aggs, select_cols = cached_exprs(ckey, build)
    # jseq-cached groupBy/agg/select: one gateway call per op instead
    # of one per COLUMN (py4j list conversion, profiled r12)
    from transferia_spark.cdc.exprcache import fast_group_agg, fast_select

    gcols = cached_exprs(
        ckey + ("g",), lambda: [F.col(k) for k in keys]
    )
    return fast_select(
        fast_group_agg(df, gcols, list(aggs), ckey + ("agg",)),
        select_cols, ckey + ("sel",),
    )
