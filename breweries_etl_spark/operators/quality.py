"""Data-quality operators: validation, quarantine split, null accounting
(SURVEY.md §2.3 P1-P4, §2.5 A4-A5).

Scale notes:
- The quarantine split evaluates ONE predicate over a cached parent so the
  input is scanned once for both branches (the reference scans its
  in-memory frame twice, which is free for pandas but a double 100 TB scan
  for us).
- Null counts are a single-pass conditional aggregation, not a per-column
  loop of actions.
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import KEY_FIELDS
from .standardize import add_quarantine_metadata


def validate_schema(
    df: DataFrame | list[str], expected_columns: list[str] | None = None
) -> None:
    """P1 — column-presence validation (ref: U/helpers.py:23-40): raise
    ValueError listing missing columns. ``df`` is a frame or the column
    names a layer's files hold (``sources.tables.stored_columns``; a
    frame read with a declared schema has every declared column). No
    job is launched."""
    expected = KEY_FIELDS if expected_columns is None else expected_columns
    present = df.columns if isinstance(df, DataFrame) else df
    missing = sorted(set(expected) - set(present))
    if missing:
        raise ValueError(f"Schema validation failed: missing columns {missing}")


def any_null_predicate(columns: list[str]) -> Column:
    """P2's mask — TRUE when any key column is NULL
    (ref: T/bronze_to_silver.py:177-179)."""
    return reduce(or_, (F.col(c).isNull() for c in columns))


def split_invalid_records(
    df: DataFrame,
    key_fields: list[str] | None = None,
    annotate: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """P2 — two-way split on the null-key mask
    (ref: T/bronze_to_silver.py:164-204).

    Returns ``(valid, quarantined)`` — honoring the reference docstring's
    promised contract, which its implementation broke by returning only
    the valid half (SURVEY.md §2.12 bug list).

    The parent is NOT cached here: both branches usually flow straight to
    sinks, and a cache of a 100 TB parent would thrash; callers that
    iterate the same split repeatedly can ``.persist()`` themselves.
    """
    keys = KEY_FIELDS if key_fields is None else key_fields
    present = [c for c in keys if c in df.columns]
    cond = any_null_predicate(present)
    valid = df.filter(~cond)
    quarantined = df.filter(cond)
    if annotate:
        quarantined = add_quarantine_metadata(quarantined)
    return valid, quarantined


def is_empty(df: DataFrame) -> bool:
    """P5 — empty-input guard (ref: ``if not all_data`` /
    ``df.empty`` checks, T/landing_to_bronze.py:66-68,
    T/silver_to_gold.py:51-53). ``isEmpty`` evaluates at most one
    partition — never a full count."""
    return df.isEmpty()


def null_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """P4 — per-column null counts in ONE pass
    (ref loops ``df[f].isna().sum()`` per field, T/bronze_to_silver.py:185-188).

    Returns a single-row DataFrame with one long column per input column.
    """
    columns = (KEY_FIELDS if columns is None else columns)
    present = [c for c in columns if c in df.columns]
    return df.agg(
        *[
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"{c}_nulls")
            for c in present
        ]
    )


def count_distinct(df: DataFrame, column: str) -> DataFrame:
    """A4 — exact distinct count (ref: ``nunique``, T/bronze_to_silver.py:83).
    For metrics at scale prefer ``approx_count_distinct`` (HLL, no shuffle
    of the full key set); exact form kept for oracle parity."""
    return df.select(F.count_distinct(F.col(column)).alias(f"{column}_distinct"))


def approx_count_distinct(df: DataFrame, column: str, rsd: float = 0.05) -> DataFrame:
    return df.select(
        F.approx_count_distinct(F.col(column), rsd).alias(f"{column}_approx_distinct")
    )


def count_duplicate_ids(df: DataFrame, column: str = "id") -> DataFrame:
    """A5 — count of 2nd+ occurrences per key, i.e. pandas
    ``duplicated().sum()`` (ref: U/helpers.py:116-131).

    groupBy benefits from partial aggregation map-side; the final frame is
    one row.
    """
    per_key = df.groupBy(column).agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.coalesce(F.sum(F.when(F.col("cnt") > 1, F.col("cnt") - 1)), F.lit(0)).alias(
            "duplicate_count"
        )
    )


def contract_violations(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[str] | None = None,
    accepted_values: dict[str, list] | None = None,
    references: list[tuple] | None = None,
) -> DataFrame:
    """Declarative data-contract check (the dbt-tests surface): one row
    per declared constraint with its violation count — the publish gate
    a pipeline runs between writing a table and announcing it.

    Constraint kinds:
    - ``not_null``: columns that must never be NULL;
    - ``unique``: columns whose values must not repeat;
    - ``accepted_values``: column → allowed literal set;
    - ``references``: (column, other_df, other_col) foreign keys — every
      non-null value must exist in the referenced column.

    Scale shape: each check is a count aggregate (map-side combined) or
    an anti-join on the key — never a window or a collect. All checks
    run as ONE union plan, so a single action materializes the whole
    contract; the fact table is scanned once per check kind, not once
    per column (the per-column null counts share a scan exactly like
    ``null_counts``).

    Output: (constraint, column, n_violations) — empty-constraint rows
    (0 violations) are KEPT so the gate can assert completeness, not
    just absence of failures.
    """
    spark = df.sparkSession
    checks: list[DataFrame] = []
    if not_null:
        aggs = [
            F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in not_null
        ]
        wide = df.agg(*aggs)
        checks.append(
            wide.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit("not_null").alias("constraint"),
                                F.lit(c).alias("column"),
                                F.col(c).cast("long").alias("n_violations"),
                            )
                            for c in not_null
                        ]
                    )
                ).alias("v")
            ).select("v.*")
        )
    for c in unique or []:
        dups = (
            df.filter(F.col(c).isNotNull())
            .groupBy(c)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .agg(
                F.coalesce(F.sum(F.col("__n") - 1), F.lit(0)).alias(
                    "n_violations"
                )
            )
            .select(
                F.lit("unique").alias("constraint"),
                F.lit(c).alias("column"),
                F.col("n_violations").cast("long"),
            )
        )
        checks.append(dups)
    for c, allowed in (accepted_values or {}).items():
        bad = df.agg(
            F.count(
                F.when(
                    F.col(c).isNotNull() & ~F.col(c).isin(list(allowed)), 1
                )
            )
            .cast("long")
            .alias("n_violations")
        ).select(
            F.lit("accepted_values").alias("constraint"),
            F.lit(c).alias("column"),
            "n_violations",
        )
        checks.append(bad)
    for c, other, other_col in references or []:
        orphans = (
            df.select(F.col(c))
            .filter(F.col(c).isNotNull())
            .join(
                other.select(F.col(other_col).alias(c)).distinct(),
                on=c,
                how="left_anti",
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
            .select(
                F.lit("references").alias("constraint"),
                F.lit(c).alias("column"),
                "n_violations",
            )
        )
        checks.append(orphans)
    if not checks:
        return spark.createDataFrame(
            [], "constraint string, column string, n_violations long"
        )
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


def schema_diff(old_schema, new_schema) -> list[dict]:
    """Schema drift report between two StructTypes: added / removed /
    retyped / nullability-relaxed columns — the check a contract gate
    runs BEFORE comparing data, because a silent type widening upstream
    (int → string is the classic) corrupts every downstream consumer
    even when row counts match.

    Driver-side metadata only (schemas are tiny); order-insensitive
    (column order is not part of the contract — parquet readers select
    by name).

    Returns a list of {"change", "column", "old", "new"} dicts, empty
    when the schemas are contract-equal.
    """
    old_fields = {f.name: f for f in old_schema.fields}
    new_fields = {f.name: f for f in new_schema.fields}
    out: list[dict] = []
    for name in sorted(set(old_fields) - set(new_fields)):
        out.append(
            {"change": "removed", "column": name,
             "old": old_fields[name].dataType.simpleString(), "new": None}
        )
    for name in sorted(set(new_fields) - set(old_fields)):
        out.append(
            {"change": "added", "column": name,
             "old": None, "new": new_fields[name].dataType.simpleString()}
        )
    for name in sorted(set(old_fields) & set(new_fields)):
        o, n = old_fields[name], new_fields[name]
        if o.dataType != n.dataType:
            out.append(
                {"change": "retyped", "column": name,
                 "old": o.dataType.simpleString(),
                 "new": n.dataType.simpleString()}
            )
        elif o.nullable != n.nullable:
            out.append(
                {"change": "nullability", "column": name,
                 "old": str(o.nullable), "new": str(n.nullable)}
            )
    return out


def k_anonymity_check(
    df: DataFrame, quasi_cols: list[str], k: int = 5
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier combination: how many
    equivalence classes (distinct quasi-identifier tuples) exist, how
    many fall below ``k`` members, and how many ROWS sit in those
    under-k classes — the re-identification exposure a dataset release
    (or a training-corpus compliance pass) reports before publishing.

    One hash aggregate over the quasi columns (map-side combined), one
    single-row rollup — the class table is the only shuffled relation,
    bounded by the quasi-tuple cardinality, never the raw rows.

    Output: one row (k, n_classes, n_unsafe_classes, n_rows_at_risk,
    min_class_size).
    """
    classes = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__n"))
    return classes.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_classes"),
        F.sum((F.col("__n") < k).cast("long")).alias("n_unsafe_classes"),
        F.sum(F.when(F.col("__n") < k, F.col("__n")).otherwise(F.lit(0))).alias(
            "n_rows_at_risk"
        ),
        F.min("__n").alias("min_class_size"),
    )


def fd_violation_stats(
    df: DataFrame, determinant_cols: list[str], dependent_col: str
) -> DataFrame:
    """Functional-dependency audit: does ``determinant_cols →
    dependent_col`` actually hold in the data? Returns one row with the
    key count, the number of keys mapping to >1 distinct dependent
    value, and the violation rate — the check that catches a
    should-be-dimension exploding after a bad join or late-arriving
    mutation.

    One exact two-level aggregate: distinct (X, y) pairs collapse
    map-side, then per-X distinct-y counts reduce to three scalars.
    NULL dependents count as a value (a key mapping to {NULL, 'x'} IS
    a violation)."""
    tagged = F.when(F.col(dependent_col).isNull(), F.lit("\x00null")).otherwise(
        F.concat(F.lit("v"), F.col(dependent_col).cast("string"))
    )
    pairs = (
        df.select(*determinant_cols, tagged.alias("__y"))
        .groupBy(*determinant_cols, "__y")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_key = pairs.groupBy(*determinant_cols).agg(
        F.count(F.lit(1)).alias("n_values")
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.when(F.col("n_values") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_keys"),
        F.round(
            F.sum(F.when(F.col("n_values") > 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("violation_rate"),
    )


def benford_first_digit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic synthetic-data / fraud tripwire for positive magnitudes
    spanning orders of magnitude. Digit extraction is string-based over
    the DECIMAL(12,2) rendering (exact; no floor(log10(double))
    boundary hazard), observed frequency and expected log10(1 + 1/d)
    are fixed round-6 doubles.

    One map-side-combinable aggregate; nine rows out of the shuffle."""
    digit = F.substring(
        F.col(value_col).cast("decimal(12,2)").cast("string"), 1, 1
    ).cast("int")
    base = (
        df.filter(F.col(value_col) >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy()
    return base.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("observed_freq"),
        F.round(F.log10(1 + 1 / F.col("digit")), 6).alias("benford_freq"),
        F.round(
            F.col("n") / F.sum("n").over(tot) - F.log10(1 + 1 / F.col("digit")), 6
        ).alias("deviation"),
    )


def referential_integrity_audit(
    children: list[tuple[str, "DataFrame", str, "DataFrame", str]],
) -> DataFrame:
    """Foreign-key orphan audit across a list of relationships
    ``(name, child_df, child_key, parent_df, parent_key)``: per
    relationship the child row count, the number of child rows whose
    key has no parent (orphans, NULL keys counted separately), and the
    distinct orphan key count — the first data-quality scan any
    warehouse onboarding runs.

    Each relationship is one left-anti join on the key — hash
    partitioned both sides, no broadcast assumption (parents are
    fact-scale too at 100 TB; AQE may still choose a runtime broadcast
    when a parent is actually small). The per-relationship summaries
    are one-row aggregates unioned together.
    """
    outs = []
    for name, child, child_key, parent, parent_key in children:
        ck = F.col(child_key)
        total = child.agg(
            F.count(F.lit(1)).alias("n_child_rows"),
            F.sum(ck.isNull().cast("long")).alias("n_null_keys"),
        )
        orphans = (
            child.filter(ck.isNotNull())
            .join(
                parent.select(F.col(parent_key).alias(child_key)),
                child_key,
                "left_anti",
            )
            .agg(
                F.count(F.lit(1)).alias("n_orphan_rows"),
                F.countDistinct(ck).alias("n_orphan_keys"),
            )
        )
        outs.append(
            total.crossJoin(orphans).select(
                F.lit(name).alias("relationship"),
                F.col("n_child_rows").cast("long"),
                F.coalesce(F.col("n_null_keys"), F.lit(0))
                .cast("long")
                .alias("n_null_keys"),
                F.col("n_orphan_rows").cast("long"),
                F.col("n_orphan_keys").cast("long"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def monotonicity_violations(
    df: DataFrame,
    key_col: str = "user_id",
    order_cols: tuple[str, str] = ("ts", "event_id"),
    value_col: str = "value",
    group_col: str = "event_type",
) -> DataFrame:
    """Per-category audit of a should-be-monotone metric: within each
    key's deterministically ordered event sequence, count strict
    DECREASES of the value — the standard sanity gate for counters,
    cumulative totals, and versioned snapshots (a violation means
    clock skew, duplicate replay, or an upstream restatement).

    One window pass PARTITIONED BY (key, category) — hash-distributed,
    never a global sort — then a category-sized aggregate. Output per
    category: (group, n_rows, n_pairs, n_violations, violation_rate)."""
    from pyspark.sql import Window as W

    o1, o2 = order_cols
    w = W.partitionBy(key_col, group_col).orderBy(
        F.col(o1), F.col(o2)
    )
    prev = F.lag(F.col(value_col)).over(w)
    flagged = df.filter(
        F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("g"),
        prev.alias("__prev"),
        F.col(value_col).alias("__v"),
    )
    per = flagged.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__prev").isNotNull(), 1).otherwise(0)).alias(
            "n_pairs"
        ),
        F.sum(
            F.when(
                F.col("__prev").isNotNull()
                & (F.col("__v") < F.col("__prev")),
                1,
            ).otherwise(0)
        ).alias("n_violations"),
    )
    return per.select(
        F.col("g").alias(group_col),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("n_violations").cast("long").alias("n_violations"),
        F.when(
            F.col("n_pairs") > 0,
            F.round(
                F.col("n_violations").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        ).alias("violation_rate"),
    )


def benford_second_digit(df: DataFrame, value_col: str) -> DataFrame:
    """Second-significant-digit distribution vs Benford's law — the
    harder tripwire (fabricators who know to skew first digits rarely
    match the second-digit law): expected
    P(d₂ = d) = Σ_{d₁=1..9} log10(1 + 1/(10·d₁ + d)), d ∈ 0..9.

    Digit extraction is string-based over the non-zero-digit stream of
    the DECIMAL(12,2) rendering (exact; no log10(double) boundary
    hazard): strip the decimal point, take character 2 of the
    significant part. Rows with fewer than two significant digits are
    excluded (the standard convention). Ten rows out of one
    map-side-combinable shuffle."""
    # significant digit stream: decimal rendering, point removed,
    # leading zeros stripped (values < 1 have them)
    sig = F.regexp_replace(
        F.regexp_replace(
            F.abs(F.col(value_col)).cast("decimal(12,2)").cast("string"),
            "\\.",
            "",
        ),
        "^0+",
        "",
    )
    digit = F.substring(sig, 2, 1).cast("int")
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(sig.alias("sig"), digit.alias("digit"))
        .filter(F.length(F.col("sig")) >= 2)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # expected freq: fixed 6-dp constants via a literal map (the law is
    # data-independent; both engines see identical literals)
    import math

    exp_map = {
        d: round(
            sum(math.log10(1 + 1 / (10 * d1 + d)) for d1 in range(1, 10)),
            6,
        )
        for d in range(10)
    }
    exp_col = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in exp_map.items() for x in kv]
        ),
        F.col("digit"),
    )
    tot = Window.partitionBy()
    return base.select(
        "digit",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("observed_freq"),
        F.round(exp_col, 6).alias("benford_freq"),
        F.round(F.col("n") / F.sum("n").over(tot) - exp_col, 6).alias(
            "deviation"
        ),
    )


def last_digit_uniformity(df: DataFrame, value_col: str) -> DataFrame:
    """Last-cent-digit χ² against the uniform law — price/amount data
    entered by humans (or synthesized carelessly) over-represents .x0
    and .x9 endings; genuine transactional cents are near-uniform.
    The classic forensic screen on money columns.

    The digit is integer arithmetic on exact cents (abs·100 half-up —
    the quantized_money grid), never a string parse of a float.
    χ² = Σ(o_d − n/10)²/(n/10) over the 10-row digit relation. Output
    one row: (n, n_digits_seen, chi2, max_digit, max_digit_share)."""
    xd = F.col(value_col).cast("double")
    cents = (F.floor(F.abs(xd) * F.lit(100.0) + F.lit(0.5))).cast("long")
    per_d = (
        df.filter(F.col(value_col).isNotNull())
        .select((cents % 10).alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = Window.partitionBy()
    folded = per_d.select(
        "digit",
        "c",
        F.sum("c").over(tot).alias("n"),
    ).select(
        "digit",
        "c",
        "n",
        (
            (F.col("c").cast("double") - F.col("n").cast("double") / 10.0)
            * (F.col("c").cast("double") - F.col("n").cast("double") / 10.0)
            / (F.col("n").cast("double") / 10.0)
        ).alias("term"),
    )
    # argmax digit via one max over (share, -digit) structs — no sort
    return folded.agg(
        F.max("n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_digits_seen"),
        F.round(F.sum(F.round(F.col("term"), 6).cast("decimal(18,6)")).cast("double"), 4).alias("chi2"),
        F.max(
            F.struct(F.col("c").alias("c"), (-F.col("digit")).alias("nd"))
        ).alias("top"),
    ).select(
        "n",
        "n_digits_seen",
        "chi2",
        (-F.col("top.nd")).cast("long").alias("max_digit"),
        F.round(
            F.col("top.c").cast("double") / F.col("n").cast("double"), 6
        ).alias("max_digit_share"),
    )
