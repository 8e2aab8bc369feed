"""Partitioned materialization with an Iceberg-first, parquet-fallback
path.

north_star materializes to "partitioned Iceberg triple tables" with
partition transforms like ``days(warc_ts)`` + ``bucket(url)``.  The
Iceberg runtime jar is not in this sandbox image, so the Iceberg branch
is attempted and gated: if the catalog/`writeTo` path is unavailable the
same data lands as dynamic-partition-overwrite parquet with identical
partition columns — preserving the per-partition resume unit.  On a real
cluster, add

    --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>
    --conf spark.sql.catalog.kg=org.apache.iceberg.spark.SparkCatalog

and `materialize(df, "kg.db.triples", ...)` takes the Iceberg branch
unchanged.

It is also the one home of intermediate staging.  Every operator cuts
lineage with :func:`cut` (a parquet round-trip, not ``localCheckpoint``)
under the directory :func:`scratch_dir` resolves: the caller's
``stage_dir``, or a temp dir removed at process exit.  The iterative
graph operators run their single-table loops through :func:`fixpoint`.
No operator persists: every persist the operators had was measured
cold against recomputing or cutting, and none won (docs/PLANS.md, "One
scoped persist"), so nothing is left in block storage when one returns.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time
from typing import Callable, Iterable, List, Optional, Tuple

from pyspark.sql import DataFrame


def iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def select_branch(table: Optional[str], available: bool) -> str:
    """The materialize() sink decision, factored pure so both branches
    are pinnable in a sandbox without the Iceberg runtime (VERDICT r5
    #8): Iceberg iff a table name is given AND the runtime is present;
    bare-path or runtime-less writes take the parquet fallback."""
    return "iceberg" if (table and available) else "parquet"


def materialize(
    df: DataFrame,
    target: str,
    partition_cols: List[str],
    mode: str = "overwrite",
    table: Optional[str] = None,
) -> str:
    """Write ``df`` partitioned by ``partition_cols``.

    If ``table`` names an Iceberg table and the runtime is present, use
    ``writeTo(table).partitionedBy(...)``; otherwise parquet at
    ``target`` with the same partition columns and dynamic partition
    overwrite (idempotent per-partition rewrites → safe resume).
    Returns the branch taken ('iceberg' | 'parquet')."""
    spark = df.sparkSession
    if select_branch(table, iceberg_available(spark)) == "iceberg":
        from pyspark.sql.functions import col

        writer = df.writeTo(table).partitionedBy(*[col(c) for c in partition_cols])
        (writer.createOrReplace() if mode == "overwrite" else writer.append())
        return "iceberg"

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    df.write.mode(mode).partitionBy(*partition_cols).parquet(target)
    return "parquet"


def scratch_dir(stage_dir: Optional[str], prefix: str) -> str:
    """The directory an operator stages its parquet cuts under:
    ``stage_dir`` when the caller gives one (the caller owns it),
    otherwise a fresh ``tempfile.mkdtemp(prefix=prefix)`` removed at
    process exit.  Results stay lazily backed by the cuts, so the temp
    dir must outlive the call — but not the process."""
    if stage_dir is not None:
        return stage_dir
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def cut(df: DataFrame, path: str) -> DataFrame:
    """Lineage cut: overwrite-write ``df`` as parquet at ``path`` and
    return the re-read table.  Reliable where ``localCheckpoint`` is not
    (blocks survive a lost executor) and measured faster here; it also
    stops a small derived table that fans out over several branches
    from re-running its corpus-touching plan once per branch.  The
    re-read takes ``df``'s schema rather than inferring it from the
    files, which would cost one Spark job per cut."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def keep_only(stage_dir: str, names: Iterable[str]) -> None:
    """Remove every entry of ``stage_dir`` but ``names``: an operator
    that owns its temp dir calls it on return with the dirs its result
    reads."""
    names = set(names)
    for entry in os.listdir(stage_dir):
        if entry not in names:
            shutil.rmtree(os.path.join(stage_dir, entry), ignore_errors=True)


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame, DataFrame], Tuple[bool, dict]],
    stage_dir: str,
    name: str,
    max_rounds: int,
    rounds: list,
    key: str = "round",
    own_dir: bool = False,
) -> DataFrame:
    """Iterate ``state ← cut(step(state))`` until ``measure`` reports
    convergence or ``max_rounds`` rounds ran; returns the last state
    (``state`` itself when ``max_rounds`` < 1).

    Round ``r`` cuts to ``{stage_dir}/{name}_{r % 2}``: the two dirs
    alternate, so a crashed write never clobbers the last good state,
    and a caller that cuts its initial state to ``{name}_0`` reuses
    the pair.  ``measure(new, old)`` returns ``(converged, fields)``;
    ``{key: r, "sec": round wall, **fields}`` is appended to
    ``rounds``.  With ``own_dir`` (``stage_dir`` is the operator's
    private temp dir, nothing else in it backs the result) every entry
    but the final state's dir is removed on return."""
    final = f"{name}_0"
    for r in range(1, max_rounds + 1):
        t0 = time.time()
        final = f"{name}_{r % 2}"
        new = cut(step(state), f"{stage_dir}/{final}")
        done, fields = measure(new, state)
        rounds.append({key: r, "sec": round(time.time() - t0, 3), **fields})
        state = new
        if done:
            break
    if own_dir:
        keep_only(stage_dir, [final])
    return state
