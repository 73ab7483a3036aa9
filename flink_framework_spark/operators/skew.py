"""Skew-handling joins (SURVEY.md §2 K6).

AQE's skew-join splitting handles most skew at runtime; this operator
is the explicit fallback for *pathological* hot keys (a single key
holding >> one partition's worth of rows — the classic null-key or
celebrity-entity problem in web-scale joins): salt the probe side into
``salt`` sub-keys and replicate the build side once per sub-key, so
the hot key spreads over ``salt`` tasks at the cost of a bounded
build-side blow-up.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_framework_spark.staging import release, stage


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Equi-join with salted keys.

    ``left`` (the big/skewed side) gets a per-row salt in [0, salt);
    ``right`` is replicated once per salt value (explode of a
    ``salt``-element array — acceptable when right is the smaller
    side). Result equals ``left.join(right, on, how)`` for inner/left
    joins; per-key parallelism increases by ``salt``x.
    """
    keys = list(on)
    lsalted = left.withColumn(
        "__salt", F.floor(F.rand(seed) * salt).cast("int")
    )
    rsalted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = lsalted.join(rsalted, keys + ["__salt"], how)
    return out.drop("__salt")


def salted_join_targeted(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 32,
    hot_keys: Sequence | None = None,
    sample_frac: float = 0.001,
    hot_share: float = 0.01,
    seed: int = 42,
) -> DataFrame:
    """Equi-join salting ONLY the detected hot keys.

    Full-side salting replicates the ENTIRE build side ``salt`` times —
    measured at the 20M⋈2M tile (tools/skew_bench.py) that blow-up
    costs more than the skew it removes (14.5 s vs 10.0 s unmitigated).
    The production fix is surgical: find the keys holding more than
    ``hot_share`` of the probe side (one cheap ``sample_frac`` sampled
    count — at most ``1/hot_share`` such keys can exist, so the
    collected list is bounded by construction), route ONLY those rows
    through the salted path, and join the uniform remainder plainly.
    The salted branch's build side is then |hot keys| x ``salt`` rows
    — trivial — while the hot rows spread over ``salt`` tasks.

    ``hot_keys`` skips detection when the caller already knows them
    (the celebrity-id case). NULL keys — the other classic skew source
    — are handled structurally, not by salting: a NULL equi-key can
    never match, so null-key rows bypass the join entirely (dropped
    for inner, passed through with null build columns for left) and
    the null straggler partition never forms. Single-key joins only —
    the hot-key routing filter is a literal IN, which also pushes to
    the probe scan. Result equals ``left.join(right, on, how)`` for
    inner/left joins (property-tested, including null keys).
    """
    keys = list(on)
    if len(keys) != 1:
        raise ValueError("salted_join_targeted routes on a single key")
    if how not in ("inner", "left", "left_outer", "leftouter"):
        # right/full would duplicate unmatched build rows across the
        # two disjoint probe branches
        raise ValueError(f"how={how!r}: only inner/left joins split safely")
    k = keys[0]
    if hot_keys is not None and any(h is None for h in hot_keys):
        # isin(None) is never true, so a None entry would silently
        # disable the very mitigation the caller asked for
        raise ValueError(
            "hot_keys must not contain None: null keys are routed "
            "around the join automatically (they can never match)"
        )
    # null keys never survive an equi-join; route them around BOTH
    # branches so they neither skew a shuffle partition nor trip the
    # isin() routing (whose three-valued logic would mask them)
    nulls = left.filter(F.col(k).isNull())
    left = left.filter(F.col(k).isNotNull())
    if hot_keys is None:
        # one sampled scan: per-key counts staged, total derived from
        # them (collect only the bounded hot list, never the groups)
        g = stage(left.sample(fraction=sample_frac, seed=seed).groupBy(k).count())
        try:
            total_sampled = max(
                (g.agg(F.sum("count")).collect()[0][0] or 0), 1
            )
            hot_keys = [
                r[0]
                for r in g.filter(
                    F.col("count") > hot_share * total_sampled
                )
                .select(k)
                .collect()
            ]
        finally:
            release(g)
    if not hot_keys:
        out = left.join(right, keys, how)
    else:
        is_hot = F.col(k).isin(list(hot_keys))
        plain = left.filter(~is_hot).join(right, keys, how)
        hot = salted_join(
            left.filter(is_hot),
            right.filter(F.col(k).isin(list(hot_keys))),
            keys,
            how,
            salt=salt,
            seed=seed,
        )
        out = plain.unionByName(hot)
    if how == "inner":
        return out
    # left join: null-key probe rows pass through with null build cols
    null_padded = nulls
    for f in out.schema.fields:
        if f.name not in nulls.columns:
            null_padded = null_padded.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
    return out.unionByName(null_padded.select(out.columns))
