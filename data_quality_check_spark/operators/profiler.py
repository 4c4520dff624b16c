"""Quality profiler: `profile()` → TableScore + the raw metric row.

The reference issues ≈ `5 + 2·numeric + 5·string + rules + 2·corr + cols` full-scan
Spark jobs per scoring run (one action per metric — engine.py:439-553). `profile`
resolves its `ProfileConfig` to a `ScoreSpec` (`profile_spec`) and collects the
single row of `plans.quality_scores.metric_plan` — the one metric implementation,
shared with `scores_df` — in ONE action of at most 3 scans. The score algebra,
issues and per-column scores are then finished in Python (`scoring.py`).

Semantics parity notes (re-derived from the reference, never copied):
  * metric definitions per SURVEY.md §2.4 A1-A14; score algebra in `scoring.py`.
  * rule violations use `~F.expr(cond)` with null → not-a-violation, matching
    `df.filter(~F.expr(cond)).count()` (engine.py:445).
  * duplicate rows = count(*) - count(distinct all columns), null-safe via struct
    equality, matching `dropDuplicates().count()` (engine.py:409).
  * distinct counts are exact (oracle-checkable); mergeable HLL sketches for
    100 TB scale are `operators/partials.py`'s job.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from data_quality_check_spark.operators import scoring
from data_quality_check_spark.operators.scoring import ColumnScore, TableScore
from data_quality_check_spark.plans.quality_scores import (
    CASE_VARIANT_MAX,
    CASE_VARIANT_MIN,
    EMAIL_RE,  # noqa: F401 — the regexes and FAKE_NULLS stay importable here
    FAKE_NULLS,  # noqa: F401
    PHONE_RE,  # noqa: F401
    ScoreSpec,
    metric_plan,
)
from data_quality_check_spark.session import parallelize_scan


@dataclass
class ProfileConfig:
    table_name: str = "dataset"
    date_columns: list[str] = field(default_factory=list)
    email_columns: list[str] = field(default_factory=list)
    phone_columns: list[str] = field(default_factory=list)
    custom_rules: list[dict] = field(default_factory=list)  # {name, condition, severity, column}
    correlation_rules: list[dict] = field(default_factory=list)  # {col_a, col_b, operator, name, severity}
    freshness_threshold_hours: float = 24.0


@dataclass
class ProfileResult:
    table_score: TableScore
    metrics: dict  # raw fused-aggregate row, flat {metric_name: value}


def _role_cols(df: DataFrame, declared: list[str], keywords: tuple[str, ...]) -> list[str]:
    """Declared columns, else the name-based fallback; only those present in `df`."""
    cols = declared or [c for c in df.columns if any(k in c.lower() for k in keywords)]
    return [c for c in cols if c in df.columns]


def validate_rules(df: DataFrame, rules: list[dict]) -> tuple[list[tuple[int, dict]], list[dict]]:
    """Split rules into (index, rule) pairs that analyze against the schema and
    rules that don't. Mirrors the reference's degrade-don't-fail behavior for
    unapplicable rules (engine.py:244-246, engine.py:451) but surfaces the skip as
    an explicit issue instead of a bare `except: pass`. Analysis is driver-only —
    no job runs."""
    valid, invalid = [], []
    for i, rule in enumerate(rules):
        try:
            df.select(F.expr(rule["condition"]).cast("boolean"))
            valid.append((i, rule))
        except Exception:
            invalid.append(rule)
    return valid, invalid


def _runtime_bad_rules(df: DataFrame, rules: list[dict], excluded: set[int]) -> set[int]:
    """Identify analysis-valid rules that throw during execution: one
    try/except-wrapped full-scan count per remaining rule — the reference's
    per-rule cost (engine.py:445), paid only on the already-failing path."""
    valid, _ = validate_rules(df, rules)
    bad: set[int] = set()
    for i, rule in valid:
        if i in excluded:
            continue
        try:
            df.agg(F.count_if(~F.expr(rule["condition"]))).collect()
        except Exception:
            bad.add(i)
    return bad


def profile_spec(
    df: DataFrame, cfg: ProfileConfig, now: datetime, exclude_rules: frozenset[int] = frozenset()
) -> tuple[ScoreSpec, list[int]]:
    """The ScoreSpec `profile` measures, and each of its rules' index in
    `cfg.custom_rules`. Rules that fail analysis, or that failed at runtime
    (`exclude_rules`), are left out; `as_of` is `now`, so `scores_df(df, spec)`
    scores the same metric row."""
    kept = [(i, r) for i, r in validate_rules(df, cfg.custom_rules)[0] if i not in exclude_rules]
    spec = ScoreSpec.from_df(
        df,
        email_cols=_role_cols(df, cfg.email_columns, ("email", "mail")),
        phone_cols=_role_cols(df, cfg.phone_columns, ("phone", "tel", "mobile", "gsm")),
        date_cols=[c for c in cfg.date_columns if c in df.columns],
        rules=[r for _, r in kept],
        corr_rules=cfg.correlation_rules,
        as_of=now.isoformat(sep=" "),
        freshness_threshold_hours=cfg.freshness_threshold_hours,
    )
    return spec, [i for i, _ in kept]


def profile(df: DataFrame, cfg: ProfileConfig | None = None, now: datetime | None = None) -> ProfileResult:
    """Profile a table in one Spark action (≤3 scans); returns TableScore + the raw metric row."""
    cfg = cfg or ProfileConfig()
    now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    # A single-row-group input would serialize the whole fused plan onto one core.
    df = parallelize_scan(df)

    # Degrade-don't-fail for rules that ANALYZE but fail at RUNTIME (common
    # under Spark 4 ANSI: e.g. `cast(code as int) < 500` over one non-numeric
    # value). The reference paid one try/except-wrapped job per rule always
    # (engine.py:244-246); we keep the fused single action and only on failure
    # probe rules individually to find and exclude the offenders, then retry.
    excluded: set[int] = set()
    while True:
        spec, rule_ids = profile_spec(df, cfg, now, frozenset(excluded))
        try:
            row = metric_plan(df, spec).collect()[0].asDict()
            break
        except Exception:
            bad = _runtime_bad_rules(df, cfg.custom_rules, excluded)
            if not bad:
                raise  # not a rule problem — surface the real error
            excluded |= bad

    # the plan numbers rules by their position in spec.rules; key them by
    # config index, so a skipped rule reads as an absent `rule__<i>`
    m = {k: v for k, v in row.items() if not k.startswith("rule__")}
    m.update({f"rule__{i}": row[f"rule__{j}"] for j, i in enumerate(rule_ids)})
    return ProfileResult(table_score=_assemble(spec, cfg, m, now), metrics=m)


def _assemble(spec: ScoreSpec, cfg: ProfileConfig, m: dict, now: datetime) -> TableScore:
    row_count = m["row_count"]
    cols = spec.columns
    r = TableScore(
        table_name=cfg.table_name,
        row_count=row_count,
        col_count=len(cols),
        custom_rules=cfg.custom_rules,
    )
    issues = r.issues

    # completeness
    total_nulls = sum(m[f"nulls__{c}"] for c in cols)
    for c in cols:
        pct = m[f"nulls__{c}"] / row_count * 100 if row_count else 0.0
        if pct > 20:
            issues.append(
                {
                    "dimension": "completeness",
                    "severity": "high" if pct > 50 else "medium",
                    "column": c,
                    "message": f"{pct:.1f}% null values ({m[f'nulls__{c}']:,}/{row_count:,})",
                }
            )
    r.completeness = scoring.completeness_score(total_nulls, row_count, len(cols)) if row_count else 0.0

    # uniqueness
    dup = row_count - m["distinct_rows"]
    dup_pct = dup / row_count * 100 if row_count else 0.0
    if dup_pct > 5:
        issues.append(
            {
                "dimension": "uniqueness",
                "severity": "high" if dup_pct > 20 else "medium",
                "column": "all",
                "message": f"{dup:,} duplicate rows ({dup_pct:.1f}%)",
            }
        )
    r.uniqueness = scoring.uniqueness_score(dup, row_count)

    # freshness — epoch-microsecond arithmetic on both sides (timezone-free;
    # `now` is naive UTC by contract of `profile`)
    now_us = now.replace(tzinfo=timezone.utc).timestamp() * 1e6
    lags = []
    for c in spec.date_cols:
        maxd = m[f"maxd__{c}"]
        if maxd is None:
            continue
        lag = (now_us - maxd) / 3_600_000_000.0
        lags.append(lag)
        if lag > cfg.freshness_threshold_hours:
            issues.append(
                {
                    "dimension": "freshness",
                    "severity": "high" if lag > cfg.freshness_threshold_hours * 3 else "medium",
                    "column": c,
                    "message": f"latest data is {lag:.0f}h old",
                }
            )
    r.freshness = scoring.freshness_score(lags, cfg.freshness_threshold_hours)

    # consistency: negative keyword columns + custom rules
    v = c_ = 0
    for c in spec.neg_check_cols:
        neg = m[f"neg__{c}"]
        v += neg
        c_ += row_count
        if neg > 0:
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": "high",
                    "column": c,
                    "message": f"{neg:,} negative values",
                }
            )
    for i, rule in enumerate(cfg.custom_rules):
        if f"rule__{i}" not in m:  # failed analysis OR failed at runtime → skipped
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": "low",
                    "column": rule.get("column", "?"),
                    "message": f"rule not evaluable on this dataset: {rule.get('name', '')}",
                }
            )
            continue
        n = m[f"rule__{i}"]
        v += n
        c_ += row_count
        if n > 0:
            issues.append(
                {
                    "dimension": "consistency",
                    "severity": rule.get("severity", "medium"),
                    "column": rule.get("column", "custom"),
                    "message": f"rule '{rule.get('name', '')}': {n:,} violations",
                }
            )
    r.consistency = scoring.ratio_score(v, c_)

    # distribution: numeric columns whose quantiles exist and whose IQR != 0
    ratios = []
    for c in spec.numeric_cols:
        q1, q3 = m[f"q1__{c}"], m[f"q3__{c}"]
        nn = row_count - m[f"nulls__{c}"]
        if q1 is None or q3 is None or q3 == q1 or nn == 0:
            continue
        ratio = m[f"out__{c}"] / nn
        ratios.append(ratio)
        if ratio > 0.05:
            issues.append(
                {
                    "dimension": "distribution",
                    "severity": "medium",
                    "column": c,
                    "message": f"{m[f'out__{c}']:,} extreme outliers ({ratio * 100:.1f}%)",
                }
            )
    r.distribution = scoring.distribution_score(ratios)

    # validity
    v = c_ = 0
    for c in spec.email_cols:
        total, inv = m[f"emailc__{c}"], m[f"emailv__{c}"]
        c_ += total
        v += inv
        if inv > 0 and total:
            pct = inv / total * 100
            issues.append(
                {
                    "dimension": "validity",
                    "severity": "high" if pct > 20 else "medium",
                    "column": c,
                    "message": f"{inv:,} invalid emails ({pct:.1f}%)",
                }
            )
    for c in spec.phone_cols:
        total, inv = m[f"phonec__{c}"], m[f"phonev__{c}"]
        c_ += total
        v += inv
        if inv > 0:
            issues.append(
                {
                    "dimension": "validity",
                    "severity": "medium",
                    "column": c,
                    "message": f"{inv:,} invalid phone numbers",
                }
            )
    r.validity = scoring.ratio_score(v, c_)

    # correlation
    v = c_ = 0
    for i, rule in enumerate(cfg.correlation_rules):
        c_ += m[f"corrc__{i}"]
        viol = m[f"corrv__{i}"]
        v += viol
        if viol > 0:
            issues.append(
                {
                    "dimension": "correlation",
                    "severity": rule.get("severity", "high"),
                    "column": f"{rule['col_a']}/{rule['col_b']}",
                    "message": f"{viol:,} violations of '{rule.get('name', '')}'",
                }
            )
    r.correlation = scoring.ratio_score(v, c_)

    r.volumetry = scoring.VOLUMETRY_CONSTANT

    # standardization
    v = c_ = 0
    for c in spec.string_cols:
        total = m[f"strc__{c}"]
        if total == 0:
            continue
        c_ += total
        ws, fn = m[f"ws__{c}"], m[f"fn__{c}"]
        v += ws + fn
        if ws > 0:
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "low",
                    "column": c,
                    "message": f"{ws:,} values with stray whitespace",
                }
            )
        if fn > 0:
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "medium",
                    "column": c,
                    "message": f"{fn:,} fake nulls (N/A, null, - …)",
                }
            )
        nu, nl = m[f"nu__{c}"], m[f"nl__{c}"]
        if CASE_VARIANT_MIN <= nu <= CASE_VARIANT_MAX and nl < nu:
            v += (nu - nl) * 10
            issues.append(
                {
                    "dimension": "standardization",
                    "severity": "medium",
                    "column": c,
                    "message": f"inconsistent casing: {nu} variants for {nl} distinct values",
                }
            )
    r.standardization = scoring.ratio_score(v, c_)

    r.global_score = scoring.global_score(
        {d: getattr(r, d) for d in scoring.DIMENSIONS}
    )

    # per-column scores (A19) from the same fused row — zero extra jobs.
    strset = set(spec.string_cols)
    for c in cols:
        cp = round((1 - m[f"nulls__{c}"] / max(row_count, 1)) * 100, 1)
        nd = m[f"nu__{c}"] if c in strset else m[f"nd__{c}"]
        uq = round(nd / max(row_count, 1) * 100, 1)
        r.columns.append(
            ColumnScore(name=c, completeness=cp, uniqueness=uq, overall=scoring.column_overall(cp, uq))
        )
    return r
