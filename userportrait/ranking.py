"""Distributed exact ranking primitives.

``exact_ntile_scores`` computes exact global ``ntile(k)`` buckets for one or
more orderings of the same DataFrame WITHOUT any single-partition exchange —
the scalable replacement for ``ntile(k) OVER (ORDER BY ...)``, which plans as
``Exchange SinglePartition`` and funnels every row through one task.

Decomposition (all JVM-side, no Python workers):

  1. one collected ``percentile_approx`` row of boundaries splits each sort
     value into ~npart range buckets, ``size(filter(array(bounds), x -> _s
     > x))``. The boundaries only need to RESPECT the global order (rows in
     bucket i sort before rows in bucket i+1; equal sort values share a
     bucket) — their accuracy affects balance, never correctness.
  2. one counting pass over the bucket columns (collected to the driver:
     ≤ npart^len(orderings) combo rows — a metadata aggregate, not data);
     its marginals become literal offset arrays, ``element_at(offsets, _b+1)``.
  3. exact global rank = driver-computed prefix-sum offset of the bucket
     + row_number() within the bucket (hash-partitioned by bucket id, fully
     parallel; the in-bucket ordering carries the unique tie-break).
  4. ntile(k) is then pure integral arithmetic on (rank, total): the first
     (total % k) buckets get (total // k + 1) rows. `div`, not float
     division — float quotients truncate the wrong way near 2^53.

Every ordering must end in a unique tie-break column so the total order is
strict; that is what makes the decomposition bitwise-equal to the
single-partition window (the ops' DuckDB oracles keep the plain
``ntile() OVER`` form, so the equivalence is re-proven on every run).

Skew note: a single sort value dominating the distribution degenerates to one
hot bucket (ntile over a near-constant column is inherently serial in the tie
region); the unique tie-break bounds the damage to one bucket's row_number.
"""

from __future__ import annotations

from collections import Counter
from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_ntile_scores(
    df: DataFrame,
    orderings: list[tuple[Column, str, str]],
    k: int = 5,
    npart: int = 32,
) -> DataFrame:
    """Append one exact global ntile(k) score column per ordering.

    ``orderings``: (sort_value, tie_col, out_name) triples. ``sort_value`` is
    a Column in ASCENDING orientation (negate for DESC); ``tie_col`` a unique
    column name; ``out_name`` the int score column (1..k) to append.
    Derived columns are SQL strings: a py4j round trip per Column call per
    bound, offset and CASE arm would cost more than the two metadata jobs.
    """
    outs = [out for _, _, out in orderings]
    # Persist spans only the two driver actions below (boundary sampling and
    # the combo count); the returned lazy plan recomputes deterministically.
    cached = df.withColumns(
        {f"_s_{out}": sort_value.cast("double") for sort_value, _, out in orderings}
    ).persist()
    try:
        probs = ", ".join(repr(i / npart) for i in range(1, npart))
        sql = [f"percentile_approx(_s_{out}, array({probs}), {4 * npart})" for out in outs]
        row = cached.selectExpr(*sql).collect()[0]
        bounds, bucket_exprs = {}, {}
        for out, got in zip(outs, row):
            # NULL = no non-null input: a single bucket. repr -> CAST is exact.
            bounds[out] = sorted(set(got or []))
            lits = ", ".join(f"CAST('{b!r}' AS DOUBLE)" for b in bounds[out])
            bucket = f"size(filter(array({lits}), x -> _s_{out} > x))" if lits else "0"
            bucket_exprs[f"_b_{out}"] = F.expr(bucket)
        work = cached.withColumns(bucket_exprs)

        b_cols = list(bucket_exprs)
        combos = work.groupBy(*b_cols).count().collect()
        total = sum(r["count"] for r in combos)
        base, rem = divmod(total, k)
        big = (base + 1) * rem  # rows covered by the oversized buckets

        rank_exprs, score_exprs = {}, {}
        for _, tie, out in orderings:
            marg: Counter[int] = Counter()
            for r in combos:
                marg[r[f"_b_{out}"]] += r["count"]
            # offsets[b] = rows in buckets < b, for every bucket id 0..len(bounds).
            offsets = accumulate((marg[b] for b in range(len(bounds[out]))), initial=0)
            rank_exprs[f"_r_{out}"] = F.expr(
                f"element_at(array({', '.join(f'{o}L' for o in offsets)}), _b_{out} + 1)"
                f" + row_number() OVER (PARTITION BY _b_{out} ORDER BY _s_{out}, `{tie}`)"
            )
            score_exprs[out] = F.expr(
                f"CAST(CASE WHEN _r_{out} <= {big} THEN (_r_{out} - 1) div {base + 1} + 1"
                f" ELSE {rem} + (_r_{out} - {big} - 1) div {max(base, 1)} + 1 END AS INT)"
            )
        work = work.withColumns(rank_exprs).withColumns(score_exprs)
        return work.drop(*(f"_{p}_{out}" for out in outs for p in "sbr"))
    finally:
        cached.unpersist(blocking=False)


def global_row_number(
    df: DataFrame, sort_exprs: list[Column], key_col: str, n_parts: int = 32
) -> DataFrame:
    """``df`` + a ``rn`` column = exact global ``row_number() OVER (ORDER BY
    sort_exprs)`` with NO ``Exchange SinglePartition`` — the reusable form
    of win_rank_distributed's decomposition (windows.py), for any frame
    with a unique ``key_col``:

      1. range-repartition + sortWithinPartitions on the full sort key
         (ties split consistently by the unique tie-break inside
         sort_exprs),
      2. pin() the partitioned frame (RangePartitioner samples
         nondeterministically; both consumers must read ONE materialized
         partitioning),
      3. per-partition counts -> prefix-sum offsets over the n_parts-row
         metadata frame (the only SinglePartition-ish step, bounded by
         partition count, never data),
      4. a mapInPandas running counter over (key, pid) ONLY — non-key
         columns never round-trip through Arrow, because pandas folds NaN
         and NULL together for float columns — then offset + local
         position joins back to ``df`` on the unique key.
    """
    from .catalog import pin

    key_type = dict(df.dtypes)[key_col]
    parted = df.repartitionByRange(n_parts, *sort_exprs).sortWithinPartitions(*sort_exprs)
    with_pid = pin(parted.select(key_col).withColumn("pid", F.spark_partition_id()))
    counts = with_pid.groupBy("pid").agg(F.count("*").alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset")
    )

    def local_rank(batches):
        pos = 0
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.copy()
            pdf["local_rank"] = range(pos + 1, pos + n + 1)
            pos += n
            yield pdf

    ranked = with_pid.mapInPandas(
        local_rank, f"{key_col} {key_type}, pid int, local_rank bigint"
    )
    rn = ranked.join(F.broadcast(offsets), "pid").select(
        key_col, (F.col("offset") + F.col("local_rank")).cast("bigint").alias("rn")
    )
    return df.join(rn, key_col)
