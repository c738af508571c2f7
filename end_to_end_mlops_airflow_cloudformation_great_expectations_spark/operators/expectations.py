"""Data-quality expectation gates (SURVEY.md A13) — the Great
Expectations role, Spark-native.

The reference validates every batch with GX suites executed inside the
Airflow DAG (airflow-provider-great-expectations installed at
/root/reference/aws_infrastructure/airflow-setup.py:457; suite shipped
from S3, :38-41,323-339) and fails the task on violation. Here the same
declarative assertions compile to a SINGLE-PASS ``df.observe`` — the
metrics ride along with whatever action materializes the DataFrame, so
validation costs zero extra scans (GX re-reads the data; at 100 TB that
difference is the whole game).

For streams, ``gate_stream`` applies the suite per micro-batch inside
``foreachBatch`` (T8).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


class ExpectationError(AssertionError):
    """Raised by ``validate`` when any expectation fails."""


@dataclass
class Suite:
    """A named set of expectations over one DataFrame.

    Each expectation is (name, metric_column, predicate-on-value).
    Metrics are plain aggregate Columns so arbitrary GX-style checks
    (null-rate, range, set membership, uniqueness, row count) compile
    into one Observation.

    ``observe`` (CollectMetrics) forbids DISTINCT aggregates, so an
    expectation whose metric is one must carry a separate observe-safe
    variant — uniqueness uses exact ``countDistinct`` in ``validate``
    and HLL ``approx_count_distinct`` in ``attach`` (which is also the
    sane choice at 100 TB: the streaming gate shouldn't shuffle every
    key).
    """

    name: str
    metrics: list[tuple[str, Column]] = field(default_factory=list)
    observe_metrics: list[tuple[str, Column]] = field(default_factory=list)
    checks: dict[str, object] = field(default_factory=dict)
    #: names of the metrics that carry an observe-safe variant: their
    #: exact value needs an aggregate job
    exact_only: set[str] = field(default_factory=set)

    def expect(
        self, metric_name: str, metric: Column, check, observe_metric: Column | None = None
    ) -> "Suite":
        self.metrics.append((metric_name, metric.alias(metric_name)))
        if observe_metric is None:
            observe_metric = metric
        else:
            self.exact_only.add(metric_name)
        self.observe_metrics.append((metric_name, observe_metric.alias(metric_name)))
        self.checks[metric_name] = check
        return self

    # -- GX-style helpers ------------------------------------------------
    def expect_row_count_between(self, lo: int, hi: float = float("inf")):
        return self.expect(
            "row_count", F.count(F.lit(1)), lambda v: lo <= v <= hi
        )

    def expect_no_nulls(self, col: str):
        return self.expect(
            f"nulls_{col}",
            F.count_if(F.col(col).isNull()),
            lambda v: v == 0,
        )

    def expect_values_between(self, col: str, lo, hi):
        return self.expect(
            f"min_{col}", F.min(col), lambda v: v is not None and v >= lo
        ).expect(
            f"max_{col}", F.max(col), lambda v: v is not None and v <= hi
        )

    def expect_values_in_set(self, col: str, allowed: set):
        return self.expect(
            f"outside_set_{col}",
            F.count_if(~F.col(col).isin(*allowed)),
            lambda v: v == 0,
        )

    def expect_unique(self, col: str, approx_tolerance: float = 0.05):
        """Exact in ``validate``; in ``attach`` the HLL estimate allows
        ``approx_tolerance`` relative slack (rsd 1%)."""
        return self.expect(
            f"dupes_{col}",
            F.count(col) - F.countDistinct(col),
            lambda v: v <= 0,
            observe_metric=F.count(col)
            - (F.approx_count_distinct(col, 0.01) * (1 + approx_tolerance)).cast("long"),
        )

    # -- execution -------------------------------------------------------
    def attach(self, df: DataFrame) -> tuple[DataFrame, Observation]:
        """Attach as a zero-extra-pass Observation; metrics appear after
        the returned DataFrame is materialized by any action."""
        obs = Observation(f"{self.name}-{uuid.uuid4().hex[:8]}")
        return df.observe(obs, *[m for _, m in self.observe_metrics]), obs

    def evaluate(self, metrics: dict) -> dict[str, bool]:
        return {k: bool(chk(metrics[k])) for k, chk in self.checks.items()}

    def validate(self, df: DataFrame) -> dict:
        """Run the suite now and raise on violation. With every metric
        safe to observe, one scan job: the metrics ride a ``noop`` write
        as an Observation (no exchange). A suite with an exact DISTINCT
        metric runs a plain ``agg`` instead (partial and final
        aggregation: two jobs under AQE), and so does one whose DISTINCT
        metric came without an observe-safe variant (``observe`` refuses
        it at analysis)."""
        metrics = None if self.exact_only else self._observed(df)
        if metrics is None:
            metrics = self._aggregated(df)
        return self._check(metrics)

    def _aggregated(self, df: DataFrame) -> dict:
        return df.agg(*[m for _, m in self.metrics]).collect()[0].asDict()

    def _observed(self, df: DataFrame) -> dict | None:
        """The metrics observed on one ``noop`` write of ``df``; None
        when ``observe`` refuses one of them."""
        try:
            observed, obs = self.attach(df)
        except AnalysisException:
            return None
        observed.write.format("noop").mode("overwrite").save()
        return obs.get

    def _check(self, metrics: dict) -> dict:
        results = self.evaluate(metrics)
        failed = [k for k, ok in results.items() if not ok]
        if failed:
            raise ExpectationError(
                f"suite {self.name!r} failed: "
                + ", ".join(f"{k}={metrics[k]!r}" for k in failed)
            )
        return metrics


def gate_stream(suite: Suite, write_fn):
    """T8: streaming quality gate for ``foreachBatch`` — validates each
    micro-batch, then hands it to ``write_fn(batch_df, epoch_id)``."""

    def _gate(batch_df: DataFrame, epoch_id: int):
        suite.validate(batch_df)
        write_fn(batch_df, epoch_id)

    return _gate


def k_anonymity_report(df: DataFrame, qi_cols: list, k: int) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns — the
    re-identification-risk counterpart to the PII redaction operator
    (text.pii_redact masks direct identifiers; this measures whether
    COMBINATIONS of innocuous columns still single people out).

    Returns one row: total distinct QI groups, groups smaller than
    ``k``, the row count inside those risky groups, and the minimum
    group size (the dataset's actual anonymity level). All counts are
    integer-exact — a deterministic audit, not an estimate.

    Scale shape: one exact groupBy over the QI tuple (map-side partial
    aggregation; cardinality bounded by the QI domain product, not the
    row count) + one 1-row reduce. No collect, no UDFs.
    """
    from pyspark.sql import functions as F

    groups = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("n"))
    return groups.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("n") < k).cast("long")).cast("long").alias(
            "groups_below_k"
        ),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("n").cast("long").alias("min_group_size"),
    )


def l_diversity_report(
    df: DataFrame, qi_cols: list, sensitive_col: str, l: int
) -> DataFrame:
    """l-diversity audit — k-anonymity's successor (Machanavajjhala
    et al. 2007): a QI group can satisfy k-anonymity yet leak the
    sensitive attribute outright when all k rows SHARE one sensitive
    value (the homogeneity attack). Distinct-l requires every
    quasi-identifier group to contain ≥ l distinct sensitive values.

    Returns one row: total QI groups, groups whose sensitive-value
    diversity is below ``l``, the row count inside those leaky
    groups, and the dataset's actual minimum diversity. All counts
    integer-exact (deterministic audit, the k_anonymity_report
    discipline).

    Scale shape: one exact two-level aggregate — countDistinct over
    the QI tuple (expand/re-shuffle bounded by the QI×sensitive
    domain product, not row count) + a 1-row reduce."""
    from pyspark.sql import functions as F

    groups = df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct(sensitive_col).alias("l_div"),
    )
    return groups.agg(
        F.lit(l).cast("long").alias("l"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum((F.col("l_div") < l).cast("long"))
        .cast("long")
        .alias("groups_below_l"),
        F.sum(F.when(F.col("l_div") < l, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.min("l_div").cast("long").alias("min_diversity"),
    )
