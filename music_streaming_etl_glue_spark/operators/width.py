"""Scale-adaptive spread width (guide §2.5: partition to the DATA, not
to the cluster constant).

r14 added explicit ``repartition(defaultParallelism)`` spreads in front
of every expensive fan-out (codec mapInPandas lanes, shingle explodes,
LSH bucket GEMMs, broadcast-scoring stream sides): the input relations
usually arrive as ONE scan partition, and AQE's byte-based coalescing
cannot see a post-shuffle fan-out, so without the spread whole stages
serialize on one core. But an UNCONDITIONAL width of
``defaultParallelism`` imposes 32-task stages on kilobyte relations —
the r14 driver run measured the whole suite 18% FASTER at 8 cores than
at 32, and two entries (`image_decode_meta` +121%,
`knn_join_ivfpq_after_delete` +51%) regressed purely on the fixed cost
of spreading tiny corpora.

This module derives the width from the INPUT SIZE instead, with zero
Spark jobs: Catalyst's plan statistics (`optimizedPlan().stats()`) give
a row-count estimate for anything rooted in a file scan (sizeInBytes is
the backing files' bytes, scaled through projections), and the width is

    clamp(ceil(est_rows / rows_per_task), 1, defaultParallelism)

so the same code runs narrow at sf0.1 and saturates the cluster long
before production scale (any relation ≥ par×rows_per_task rows fans out
fully). ``rows_per_task`` is a per-call-site constant reflecting the
per-row cost of the stage the spread feeds (a codec lane amortizes a
task's fixed cost over fewer rows than a slim projection does).

When the plan can't provide an estimate (LogicalRDD checkpoints, plans
whose stats degrade to the unknown sentinel), the fallback is FULL
parallelism — the scale-safe side: a wrong "wide" costs local task
overhead, a wrong "narrow" serializes a production stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: default rows a spread task should own before another task is worth
#: its fixed cost (task launch + Arrow stage setup is ~0.05-0.5 s; the
#: kernels behind these spreads run ~µs-ms per row).
DEFAULT_ROWS_PER_TASK = 2048

#: Catalyst returns conf.defaultSizeInBytes (Long.MaxValue by default)
#: when a leaf has no clue — treat anything absurdly large as unknown.
_UNKNOWN_SIZE = 1 << 60


def est_rows(df: DataFrame, row_bytes: int | None = None) -> int | None:
    """Estimated row count from plan statistics — pure driver-side plan
    analysis, never a Spark job. Returns None when the plan carries no
    usable estimate (callers fall back to full parallelism).

    ``row_bytes`` overrides the schema-derived bytes/row divisor: pass it
    for vector/array relations, where ArrayType's defaultSize counts ONE
    element and the schema inversion would inflate the estimate ~dims×
    (harmlessly wide, but it defeats the narrowing this module exists
    for)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return max(1, int(str(rc.get())))
        size = int(str(stats.sizeInBytes()))
        if size <= 0 or size >= _UNKNOWN_SIZE:
            return None
        if row_bytes is None:
            # Catalyst's own size<->rows conversion: row width = sum of
            # the attributes' default sizes + 8 bytes of row overhead
            # (EstimationUtils.getSizePerRow). Inverting it recovers the
            # row-count scale Catalyst derived the size from.
            row_bytes = int(str(df._jdf.schema().defaultSize())) + 8
        return max(1, size // max(row_bytes, 1))
    except Exception:
        return None


def spread_width(
    df: DataFrame,
    rows_per_task: int = DEFAULT_ROWS_PER_TASK,
    par: int | None = None,
    row_bytes: int | None = None,
) -> int:
    """Scale-adaptive partition count for an explicit spread of ``df``:
    one task per ``rows_per_task`` estimated input rows, clamped to
    [1, defaultParallelism]. Unknown size → full parallelism (see module
    docstring for why that is the safe side)."""
    if par is None:
        par = df.sparkSession.sparkContext.defaultParallelism
    n = est_rows(df, row_bytes=row_bytes)
    if n is None:
        return par
    rpt = max(1, rows_per_task)
    return max(1, min(par, (n + rpt - 1) // rpt))
