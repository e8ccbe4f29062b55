"""Join operators (SURVEY §2.3 J1-J3 + the general joins the engine
must expose: semi/anti, range, as-of).

Scale policy lives here: small dimension sides get an explicit
``broadcast()`` hint (shuffle-free hash join); big-big joins shuffle
on their keys and rely on AQE skew splitting; the as-of join is a
composition of union + window (one shuffle, no per-row lookups).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join_on_keys(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """J1: equi-join on a composite key (reference: weather ⋈ traffic on
    (Date, Hour), notebook cell 6 ≈L74). ``broadcast_right=True`` for
    dimension-sized right sides."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on=list(keys), how=how)


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    payload: Sequence[str],
    broadcast_dim: bool = True,
) -> DataFrame:
    """J2: decorrelated scalar-subquery lookup (FK resolution).

    The reference runs one correlated scalar subquery per inserted row
    (reference: dags/utils.py:269-273). Decorrelated, it is a single
    left equi-join — Catalyst performs the same rewrite for SQL scalar
    subqueries; we write the join directly. Dimension side broadcasts
    by default (FK dims are small relative to facts).
    """
    d = dim.select(F.col(dim_key).alias("__dimkey"), *payload)
    if broadcast_dim:
        d = F.broadcast(d)
    return fact.join(d, fact[fact_key] == d["__dimkey"], "left").drop("__dimkey")


def semi_join_membership(
    df: DataFrame, col: str, values: Sequence[Any] | DataFrame, value_col: str | None = None
) -> DataFrame:
    """J3: set-membership filter (holiday-flag pattern, reference:
    notebook cell 6 ≈L74, dags/utils.py:242).

    Small literal list → ``isin`` (constant-folded predicate, pushed to
    the scan). Table-sized membership → broadcast LEFT SEMI join.
    """
    if isinstance(values, DataFrame):
        key = value_col or col
        return df.join(
            F.broadcast(values.select(F.col(key).alias(col)).distinct()), on=col, how="left_semi"
        )
    return df.filter(F.col(col).isin(list(values)))


def anti_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """NOT EXISTS — rows of ``left`` with no match in ``right``. The
    building block of the idempotent insert-if-absent sink (S8)."""
    return left.join(right, on=list(keys), how="left_anti")


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi_keys: Sequence[str],
    range_cond: Column,
) -> DataFrame:
    """Range join: equi keys + a non-equi band condition. With equi
    keys present Spark plans a hash/sort-merge join on the equi keys
    and applies the band as a post-join filter — no nested-loop
    blowup. Pure band joins (no equi key) should bucketize the range
    key into an equi-joinable bucket column first."""
    if equi_keys:
        cond = [left[k] == right[k] for k in equi_keys]
        return left.join(right, on=cond, how="inner").filter(range_cond)
    return left.join(right, on=range_cond, how="inner")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    id_left: str,
    start_left,
    end_left,
    id_right: str,
    start_right,
    end_right,
    by: Sequence[str] = (),
    bin_width: float = 3600.0,
) -> DataFrame:
    """Interval-overlap pairs (closed intervals: l.s ≤ r.e AND
    r.s ≤ l.e) WITHOUT a nested-loop join — the bucketized band-join
    path range_join's docstring defers to. start/end accept Columns
    or names; timestamps work via their double cast (epoch seconds).

    Scale shape (the genomics/temporal-join standard):
      1. each interval explodes to the fixed-width bins it covers
         (map-only `explode(sequence)`);
      2. candidates equi-join on (by…, bin) — a hash shuffle keyed by
         bin, uniform when intervals are short relative to bin_width;
      3. a pair overlapping k shared bins would emit k times — the
         FIRST-OVERLAP-BIN guard (bin == floor(max(l.s, r.s)/width))
         emits each pair exactly once, so there is NO distinct and no
         re-shuffle;
      4. exact overlap predicate + overlap length, post-join.

    ``bin_width`` trades explode factor (long intervals × narrow
    bins) against bucket density (short intervals × wide bins); size
    it near the typical interval length. Returns
    (by…, id_left, id_right, overlap_seconds).
    """
    w = float(bin_width)

    def _prep(df: DataFrame, idc: str, s, e, side: str) -> DataFrame:
        sc = (F.col(s) if isinstance(s, str) else s).cast("double")
        ec = (F.col(e) if isinstance(e, str) else e).cast("double")
        return df.select(
            *by,
            F.col(idc).alias(f"__id_{side}"),
            sc.alias(f"__s_{side}"),
            ec.alias(f"__e_{side}"),
            F.explode(
                F.sequence(
                    F.floor(sc / F.lit(w)).cast("long"),
                    F.floor(ec / F.lit(w)).cast("long"),
                )
            ).alias("__bin"),
        )

    l = _prep(left, id_left, start_left, end_left, "l")
    r = _prep(right, id_right, start_right, end_right, "r")
    first_overlap_bin = F.floor(
        F.greatest(F.col("__s_l"), F.col("__s_r")) / F.lit(w)
    ).cast("long")
    return (
        l.join(r, on=[*by, "__bin"])
        .filter(
            (F.col("__s_l") <= F.col("__e_r"))
            & (F.col("__s_r") <= F.col("__e_l"))
            & (F.col("__bin") == first_overlap_bin)
        )
        .select(
            *by,
            F.col("__id_l").alias(id_left),
            F.col("__id_r").alias(id_right),
            (
                F.least(F.col("__e_l"), F.col("__e_r"))
                - F.greatest(F.col("__s_l"), F.col("__s_r"))
            ).alias("overlap_seconds"),
        )
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str],
    right_cols: Sequence[str],
    direction: str = "backward",
    suffix: str = "_right",
    tolerance: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.on <= left.on`` within the same ``by`` group (backward),
    the earliest ``>=`` (forward), or whichever of the two is closer
    (nearest; ties break backward). ``tolerance`` bounds the allowed
    |right.on − left.on| in the column's double-cast units (seconds
    for timestamps) — a match farther than that yields NULL, the
    pandas ``merge_asof(tolerance=...)`` contract.

    Spark has no native as-of join. Scalable composition (one shuffle
    on ``by``, no per-row lookups, no crossJoin):

      1. tag and union both sides on (by, on);
      2. window-sort within ``by`` by (on, tag) and carry the last
         right ROW forward as a single struct(on, payload...) with
         ``last(ignorenulls)`` (and symmetrically ``first`` for the
         forward direction) — one struct per direction so the matched
         timestamp and every payload column always come from the SAME
         right row (a matched row's legitimate NULL payload stays
         NULL; values can never leak from an older/newer row outside
         the tolerance bound, matching pandas merge_asof);
      3. keep left rows.

    This is the standard union-merge formulation of merge_asof; state
    per group is one row of payload, and the window never materializes
    a group in memory (UnsafeExternalSorter spills). ``nearest`` costs
    one extra in-partition sort (both direction fills share the single
    hash exchange on ``by``).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"direction must be backward|forward|nearest, got {direction}")
    l_tagged = left.withColumn("__is_left", F.lit(True))
    for c in right_cols:
        l_tagged = l_tagged.withColumn(f"{c}{suffix}", F.lit(None).cast(right.schema[c].dataType))
    l_tagged = l_tagged.withColumn("__r_on", F.lit(None).cast("double"))
    r_tagged = (
        right.select(
            *by,
            F.col(on).alias(on),
            *[F.col(c).alias(f"{c}{suffix}") for c in right_cols],
        )
        .withColumn("__is_left", F.lit(False))
        # matched-timestamp carrier: distance/tolerance need the right
        # row's own `on`, not just its payload
        .withColumn("__r_on", F.col(on).cast("double"))
    )
    left_cols = [c for c in left.columns]
    for c in left_cols:
        if c not in r_tagged.columns:
            r_tagged = r_tagged.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    sel = [*left_cols, *[f"{c}{suffix}" for c in right_cols], "__is_left", "__r_on"]
    unioned = l_tagged.select(*sel).unionByName(r_tagged.select(*sel))
    # the whole matched right row travels as ONE struct: NULL for left
    # rows so last/first(ignorenulls) skips them, and atomic for right
    # rows so ts + payload can never come from different right rows
    # even when a payload column is NULL in the matched row.
    unioned = unioned.withColumn(
        "__r_row",
        F.when(
            # right rows with a NULL `on` can never be as-of matches
            # (pandas merge_asof requires non-null keys) — exclude
            # them so they don't occupy the fill slot.
            ~F.col("__is_left") & F.col("__r_on").isNotNull(),
            F.struct(
                F.col("__r_on").alias("__match_on"),
                *[F.col(f"{c}{suffix}").alias(c) for c in right_cols],
            ),
        ),
    )

    def _filled(df: DataFrame, which: str, pre: str) -> DataFrame:
        if which == "backward":
            # right rows sort BEFORE left rows at equal timestamps so
            # an exact-timestamp match is visible to the left row.
            order = [F.col(on).asc(), F.col("__is_left").cast("int").asc()]
            frame = (
                Window.partitionBy(*by).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
            )
            agg = F.last(F.col("__r_row"), ignorenulls=True).over(frame)
        else:
            order = [F.col(on).asc(), F.col("__is_left").cast("int").desc()]
            frame = (
                Window.partitionBy(*by).orderBy(*order).rowsBetween(0, Window.unboundedFollowing)
            )
            agg = F.first(F.col("__r_row"), ignorenulls=True).over(frame)
        return df.select("*", agg.alias(f"{pre}row"))

    l_on = F.col(on).cast("double")
    if direction in ("backward", "forward"):
        filled = _filled(unioned, direction, "__f_")
        m_ts = F.col("__f_row.__match_on")
        dist = (l_on - m_ts) if direction == "backward" else (m_ts - l_on)
        ok = m_ts.isNotNull()
        if tolerance is not None:
            ok = ok & (dist <= F.lit(float(tolerance)))
        picked = {c: F.when(ok, F.col(f"__f_row.{c}")) for c in right_cols}
    else:  # nearest: both fills share the one hash exchange on `by`
        filled = _filled(_filled(unioned, "backward", "__b_"), "forward", "__w_")
        b_ts = F.col("__b_row.__match_on")
        f_ts = F.col("__w_row.__match_on")
        bdist = l_on - b_ts
        fdist = f_ts - l_on
        b_ok = b_ts.isNotNull() & (
            F.lit(True) if tolerance is None else (bdist <= F.lit(float(tolerance)))
        )
        f_ok = f_ts.isNotNull() & (
            F.lit(True) if tolerance is None else (fdist <= F.lit(float(tolerance)))
        )
        use_b = b_ok & (~f_ok | (bdist <= fdist))  # tie breaks backward
        picked = {
            c: F.when(use_b, F.col(f"__b_row.{c}")).when(f_ok, F.col(f"__w_row.{c}"))
            for c in right_cols
        }
    return filled.filter(F.col("__is_left")).select(
        *left_cols, *[picked[c].alias(f"{c}{suffix}") for c in right_cols]
    )


def _delete_one(v: Column) -> Column:
    """Array of strings each obtained by deleting exactly one character
    from ``v`` (empty array for the empty string — guarded explicitly
    because ``sequence(1, 0)`` steps DOWNWARD and would emit positions
    1 and 0 instead of nothing)."""
    return F.when(F.length(v) < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(v)),
            lambda i: F.concat(
                F.substring(v, F.lit(1), i - 1), F.substring(v, i + 1, F.length(v))
            ),
        )
    )


def deletion_neighborhood(col: Column | str, max_dist: int) -> Column:
    """All distinct strings reachable from ``col`` by deleting up to
    ``max_dist`` characters (the string itself included), built with
    nothing but native array expressions — no UDF, stays inside
    whole-stage codegen.

    This is the FastSS / SymSpell blocking set (Bocek et al. 2007,
    "Fast Similarity Search in Large Dictionaries"): if
    ``ed(s, t) <= k`` then an optimal alignment matches all but <= k
    characters of each side, so deleting the unmatched characters
    (<= k deletions per side) leaves the SAME string — s and t share
    a member of their k-deletion neighborhoods. Joining on
    neighborhood members therefore never misses a true pair;
    verification with the real edit distance makes precision exact.

    Neighborhood size is C(len, <= k): ~80 variants for a 12-char
    string at k=2 — the operator is designed for SHORT string columns
    (names, titles, codes), which is where edit-distance similarity
    is meaningful at all.
    """
    c = F.col(col) if isinstance(col, str) else col
    levels = [F.array(c)]
    for _ in range(max_dist):
        levels.append(
            F.array_distinct(F.flatten(F.transform(levels[-1], _delete_one)))
        )
    return F.array_distinct(F.concat(*levels)) if max_dist > 0 else levels[0]


def edit_distance_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: str,
    max_dist: int = 2,
    max_len: int = 64,
) -> DataFrame:
    """Similarity join on edit distance: distinct string pairs
    ``(left_val, right_val, dist)`` with
    ``levenshtein(left_val, right_val) <= max_dist``.

    Reference parity: the reference resolves near-identical station /
    holiday labels by exact normalization only (reference
    Traffic_ETL.py join keys); this is the fuzzy generalization a
    training-data pipeline needs for entity/title dedup.

    Scale design (the naive form is an O(n²) crossJoin with a
    per-pair Levenshtein — never built here):

      1. collapse each side to DISTINCT strings first — the same
         flood guard as dedup.collapse_exact: 2 000 part rows carry
         only 64 distinct names, and on any realistic
         name/title column compute must be linear in the DISTINCT
         domain, with id-level expansion left to a trailing equi-join
         the caller owns;
      2. explode each distinct string into its k-deletion
         neighborhood (``deletion_neighborhood`` — a provably
         complete blocking set) and join the two sides on the
         ``xxhash64`` of the variant: an 8-byte equi-join key, no
         string shuffles. A hash collision can only ADD a candidate
         pair, never drop one, and step 3 removes any false add —
         unless the colliding pair is a true pair, in which case it
         belongs in the output anyway;
      3. verify candidates with the native threshold form
         ``levenshtein(l, r, max_dist)`` (short-circuits the DP once
         the bound is exceeded; returns -1 above the bound).

    ``max_len`` caps the per-string neighborhood blowup (C(len, <=k));
    the distinct-string tables are eagerly checked (they are small by
    step 1, so the check is one cheap job each) and a longer string
    raises rather than silently degrading into a quadratic candidate
    set.
    """
    sl = left.select(F.col(left_on).alias("__lv")).distinct()
    sr = right.select(F.col(right_on).alias("__rv")).distinct()
    for side, colname in ((sl, "__lv"), (sr, "__rv")):
        over = side.agg(F.max(F.length(colname)).alias("m")).collect()[0]["m"]
        if over is not None and over > max_len:
            raise ValueError(
                f"edit_distance_join: string length {over} exceeds max_len="
                f"{max_len}; the deletion-neighborhood blocking set grows as "
                "C(len, <=k) — this operator is for short name/title/code "
                "columns. Raise max_len deliberately if that cost is intended."
            )
    vl = sl.select(
        "__lv", F.explode(deletion_neighborhood(F.col("__lv"), max_dist)).alias("__v")
    ).select("__lv", F.xxhash64("__v").alias("__vh"))
    vr = sr.select(
        "__rv", F.explode(deletion_neighborhood(F.col("__rv"), max_dist)).alias("__v")
    ).select("__rv", F.xxhash64("__v").alias("__vh"))
    cand = vl.join(vr, "__vh").select("__lv", "__rv").distinct()
    return (
        cand.withColumn(
            "dist", F.levenshtein(F.col("__lv"), F.col("__rv"), int(max_dist))
        )
        .filter(F.col("dist") >= 0)
        .select(
            F.col("__lv").alias("left_val"),
            F.col("__rv").alias("right_val"),
            F.col("dist").cast("long").alias("dist"),
        )
    )
