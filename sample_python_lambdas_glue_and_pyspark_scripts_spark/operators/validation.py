"""Single-pass constraint validation with group-granular quarantine.

The reference's core IP (SURVEY.md §2.3): every ``validate_*`` rule finds
the distinct set of ``opco_id`` groups containing >=1 bad row; the caller
accumulates the sets and quarantines *entire groups*, not rows
(/root/reference/src/price_zone/validator.py:8-90,
 /root/reference/src/price_zone/transform_spark_job.py:66-84).

The reference evaluates each rule as a separate Spark action (head(1) +
distinct().collect() per rule, plus two count() calls → ~12 scans of the
input per run, SURVEY.md §4.1). This engine computes EVERYTHING in one
aggregation pass:

    raw → flag column per rule → groupBy(group).agg(max(flag)..., count)
        → tiny per-group violation matrix (bounded by group cardinality)

From that matrix we derive, with no further input scans:
- per-rule invalid-group sets (the reference's per-``validate_*`` outputs),
- total / valid / invalid row counts (the reference's metadata counts,
  transform_spark_job.py:90-94),
- the quarantined output (broadcast anti-join against the bad groups).

At 100 TB: the input is scanned once; the matrix is |groups| x |rules|
(opco cardinality is small and bounded in the reference — hundreds); the
anti-join broadcasts the bad-group set, so no shuffle of the fact table.

NULL semantics are preserved exactly: a rule predicate that evaluates to
NULL (e.g. ``col < min`` on a NULL) does NOT mark the row invalid, matching
``DataFrame.filter``'s NULL-drops-row behavior in the reference
(SURVEY.md §7.2 "NULL-comparison fidelity").
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class ValidationError(ValueError):
    """Fail-fast rule violation (reference: validator.py:46-53 raises)."""


@dataclass(frozen=True)
class Rule:
    """One constraint on one column.

    kinds (reference mapping, SURVEY.md §2.3):
      required_numeric   F1  empty/null/non-digit invalid (validator.py:16-21)
      member_of          F2  not in ``values`` or null invalid (validator.py:8-13)
      max_length         F3  length > ``n`` invalid (validator.py:35-43)
      length_equals      F4  length != ``n`` invalid; fail_fast (validator.py:46-53)
      in_range           F5  < lo or > hi invalid; nulls pass (validator.py:56-66)
      regex              F6  null or no-match invalid (validator.py:69-79)
      parseable_timestamp F7 to_timestamp(col, fmt) null invalid (validator.py:82-90)
      positive           F11 numeric <= 0 invalid; nulls pass (pa_etl_script.py:202-209)
      not_null               null invalid
      greater_than           value > ``value`` invalid (upper-bound cap)
      less_than              value < ``value`` invalid (lower-bound floor)
      expr                   arbitrary boolean Column via ``condition``
    """

    name: str
    column: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)
    fail_fast: bool = False

    def invalid_condition(self) -> Column:
        c = F.col(self.column)
        k, p = self.kind, self.params
        if k == "required_numeric":
            return (c == "") | c.isNull() | c.rlike("[^0-9]")
        if k == "member_of":
            return ~c.isin(list(p["values"])) | c.isNull()
        if k == "max_length":
            return F.length(c) > int(p["n"])
        if k == "length_equals":
            return F.length(c) != int(p["n"])
        if k == "in_range":
            return (c < F.lit(p["lo"])) | (c > F.lit(p["hi"]))
        if k == "regex":
            return c.isNull() | ~c.rlike(p["pattern"])
        if k == "parseable_timestamp":
            from ..functions import parse_timestamp_lenient

            return parse_timestamp_lenient(c, p.get("fmt", "yyyy-MM-dd HH:mm:ss")).isNull()
        if k == "positive":
            return c.try_cast("double") <= 0
        if k == "not_null":
            return c.isNull()
        if k == "greater_than":
            return c > F.lit(p["value"])
        if k == "less_than":
            return c < F.lit(p["value"])
        if k == "expr":
            return p["condition"]
        raise ValueError(f"unknown rule kind: {k}")


# rule-set for the price_zone input contract (constants.py:1-9 +
# transform_spark_job.py:60-84 order of application)
def price_zone_rules(active_opcos: list[str]) -> list[Rule]:
    from .. import schemas as S

    return [
        Rule("active_opco", "opco_id", "member_of", {"values": active_opcos}),
        Rule("supc_numeric", "supc", "required_numeric"),
        Rule("customer_numeric", "customer_id", "required_numeric"),
        Rule("price_zone_numeric", "price_zone", "required_numeric"),
        Rule("supc_length", "supc", "max_length", {"n": S.SUPC_LENGTH}),
        Rule("customer_length", "customer_id", "max_length", {"n": S.CUST_NBR_LENGTH}),
        Rule(
            "price_zone_range",
            "price_zone",
            "expr",
            {
                "condition": (
                    F.col("price_zone").try_cast("int") < S.PRICE_ZONE_MIN_VALUE
                )
                | (F.col("price_zone").try_cast("int") > S.PRICE_ZONE_MAX_VALUE)
            },
        ),
        Rule("date_format", "eff_from_dttm", "regex", {"pattern": S.DATE_FORMAT_REGEX}),
        Rule("date_parses", "eff_from_dttm", "parseable_timestamp"),
    ]


@dataclass
class ValidationReport:
    """Everything the reference derives in ~12 actions, from one pass."""

    group_col: str
    matrix: list[dict[str, Any]]  # one dict per group: {group, __n, <rule>: bool}
    rule_names: list[str]
    total_count: int
    valid_count: int
    invalid_groups: set  # union across rules (the quarantine set)
    per_rule_invalid_groups: dict[str, set]

    @property
    def invalid_count(self) -> int:
        # A7: invalid = total - valid (reference: Notifier/index.py:39,193)
        return self.total_count - self.valid_count


def flag_columns(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Attach one boolean ``__viol_<rule>`` column per rule, in rule
    order (no action). One projection: each ``withColumn`` would analyse
    the plan again."""
    return df.withColumns({f"__viol_{r.name}": r.invalid_condition() for r in rules})


def matrix_aggs(rules: list[Rule]) -> list[Column]:
    """The shared matrix aggregation: row count + any-row-violates flag
    per rule (single definition for validate/validate_distributed)."""
    return [F.count(F.lit(1)).alias("__n")] + [
        F.max(F.coalesce(F.col(f"__viol_{r.name}"), F.lit(False))).alias(r.name)
        for r in rules
    ]


def any_violation(rules: list[Rule], flagged: bool = False) -> Column:
    """OR-fold of the rule columns (matrix form) or ``__viol_`` columns
    (``flagged=True``, row form). False when there are no rules."""
    cond: Column | None = None
    for r in rules:
        c = (
            F.coalesce(F.col(f"__viol_{r.name}"), F.lit(False))
            if flagged
            else F.col(r.name)
        )
        cond = c if cond is None else (cond | c)
    return cond if cond is not None else F.lit(False)


def validate(
    df: DataFrame, rules: list[Rule], group_col: str = "opco_id"
) -> tuple[DataFrame, ValidationReport]:
    """Single-pass validation → (quarantined_df, report).

    ``quarantined_df`` contains only rows of groups with zero violations
    (reference: remove_records_of_given_opcos, validator.py:28-32). The
    matrix aggregation is the only action; the returned DataFrame embeds a
    broadcast anti-join and stays lazy.
    """
    flagged = flag_columns(df, rules)
    matrix_rows = [
        r.asDict()
        for r in flagged.groupBy(group_col).agg(*matrix_aggs(rules)).collect()
    ]
    report = report_from_matrix(matrix_rows, rules, group_col)
    clean = quarantine(df, report.invalid_groups, group_col)
    return clean, report


def report_from_matrix(
    matrix_rows: list[dict], rules: list[Rule], group_col: str
) -> ValidationReport:
    """Matrix rows (one dict per group: ``{group, __n, <rule>: bool}``)
    → the ValidationReport (per-rule invalid sets, counts, fail-fast).
    Shared by :func:`validate` and the single-pass callers that fold
    extra group aggregates into the same matrix scan (extra keys in the
    row dicts are carried through untouched)."""
    per_rule: dict[str, set] = {r.name: set() for r in rules}
    invalid_groups: set = set()
    total = valid = 0
    for row in matrix_rows:
        total += row["__n"]
        bad = False
        for r in rules:
            if row[r.name]:
                per_rule[r.name].add(row[group_col])
                bad = True
                if r.fail_fast:
                    raise ValidationError(
                        f"rule {r.name} violated in group {row[group_col]}"
                    )
        if bad:
            invalid_groups.add(row[group_col])
        else:
            valid += row["__n"]

    return ValidationReport(
        group_col=group_col,
        matrix=matrix_rows,
        rule_names=[r.name for r in rules],
        total_count=total,
        valid_count=valid,
        invalid_groups=invalid_groups,
        per_rule_invalid_groups=per_rule,
    )


def quarantine(df: DataFrame, bad_groups: set, group_col: str = "opco_id") -> DataFrame:
    """F8 anti-filter: drop all rows of groups in ``bad_groups``.

    Reference: validator.py:28-32 (``~col.isin(list)``). For bounded group
    cardinality the isin-filter is optimal (pure map-side, pushes to scan);
    NULL group keys are dropped when the set is non-empty, matching the
    reference's NOT IN semantics. Past ~1000 keys the literal isin blows up
    codegen, so we switch to a broadcast anti-join on a keys DataFrame.
    """
    if not bad_groups:
        return df
    non_null = [g for g in bad_groups if g is not None]
    had_null = len(non_null) != len(bad_groups)
    if len(non_null) > 1000:
        spark = df.sparkSession
        keys = spark.createDataFrame(
            [(g,) for g in non_null], schema=df.select(group_col).schema
        )
        out = df.join(F.broadcast(keys), on=group_col, how="left_anti")
        # anti-join keeps NULL keys (NULL never equals); drop them to
        # match the isin branch's NOT-IN semantics exactly
        out = out.filter(F.col(group_col).isNotNull())
    else:
        out = df.filter(~F.col(group_col).isin(non_null))
        if had_null:
            out = out.filter(F.col(group_col).isNotNull())
    return out


def validate_distributed(
    df: DataFrame, rules: list[Rule], group_col: str = "opco_id"
) -> tuple[DataFrame, DataFrame]:
    """Fully-lazy validation → (quarantined_df, matrix_df).

    The 100 TB path: nothing is collected to the driver, so group
    cardinality is unbounded. The matrix (one row per group: count + one
    bool per rule + ``any_violation``) is a DataFrame; the quarantined
    output anti-joins the violating keys back (broadcast when small — AQE
    decides at runtime). Use ``validate`` when you need the reference's
    materialized per-rule opco lists.
    """
    flagged = flag_columns(df, rules)
    matrix = flagged.groupBy(group_col).agg(*matrix_aggs(rules))
    matrix = matrix.withColumn("any_violation", any_violation(rules))
    bad_keys = matrix.filter(F.col("any_violation")).select(
        F.col(group_col).alias("__bad_key")
    )
    # null-safe anti-join: a NULL group key is a group like any other here
    # (a plain anti-join would leak violating NULL-group rows, since NULL
    # never equals NULL). Deviation from validate()'s isin quirk — which
    # drops NULL-key rows whenever ANY group is bad — is deliberate and
    # documented: the distributed path treats NULL as its own group.
    # No broadcast hint: bad-key cardinality is unbounded on this path —
    # AQE broadcasts small sets at runtime and falls back to a shuffled
    # anti-join for huge ones (a forced hint would OOM past the 8 GB cap).
    clean = df.join(
        bad_keys,
        F.col(group_col).eqNullSafe(F.col("__bad_key")),
        how="left_anti",
    )
    return clean, matrix


def invalid_rows(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Rows violating >=1 rule, with their flag columns.

    The reference only ``show()``s these (validator.py:11,19); we persist
    them as a first-class output (SURVEY.md §7.1 M1).
    """
    flagged = flag_columns(df, rules)
    return flagged.filter(any_violation(rules, flagged=True))


def validate_column(df: DataFrame, column: str, group_col: str = "opco_id") -> list:
    """F1 compat shim: distinct groups having empty/null/non-numeric values.

    Reference: validator.py:16-21 + get_opco_list:24-25. Returns a sorted
    list (the reference's ordering is plan-dependent; tests must compare
    order-insensitively, SURVEY.md §7.2).
    """
    return _groups_where(df, Rule("x", column, "required_numeric"), group_col)


def validate_opcos(
    df: DataFrame, active: list, column: str = "opco_id", group_col: str = "opco_id"
) -> list:
    """F2 compat shim (reference: validator.py:8-13)."""
    return _groups_where(df, Rule("x", column, "member_of", {"values": active}), group_col)


def validate_column_length_less_than(
    df: DataFrame, column: str, n: int, group_col: str = "opco_id"
) -> list:
    """F3 compat shim (reference: validator.py:35-43)."""
    return _groups_where(df, Rule("x", column, "max_length", {"n": n}), group_col)


def validate_column_length_equals(
    df: DataFrame, column: str, n: int, group_col: str = "opco_id"
) -> list:
    """F4 compat shim — raises on violation (reference: validator.py:46-53)."""
    bad = _groups_where(df, Rule("x", column, "length_equals", {"n": n}), group_col)
    if bad:
        raise ValidationError(
            f"Data length should be equal to {n} for column {column}; bad groups: {bad}"
        )
    return []


def validate_data_range(
    df: DataFrame, column: str, lo, hi, group_col: str = "opco_id"
) -> list:
    """F5 compat shim (reference: validator.py:56-66); nulls pass."""
    return _groups_where(df, Rule("x", column, "in_range", {"lo": lo, "hi": hi}), group_col)


def validate_date_format(
    df: DataFrame, column: str, pattern: str, group_col: str = "opco_id"
) -> list:
    """F6 compat shim (reference: validator.py:69-79)."""
    return _groups_where(df, Rule("x", column, "regex", {"pattern": pattern}), group_col)


def _groups_where(df: DataFrame, rule: Rule, group_col: str) -> list:
    rows = (
        df.filter(rule.invalid_condition())
        .select(group_col)
        .distinct()
        .collect()
    )
    return [r[0] for r in rows]
