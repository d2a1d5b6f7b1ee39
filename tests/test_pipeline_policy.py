"""Q3 (retry policy) and Q4 (failure alerting) around the orchestrated
run — the operational envelope of the reference DAG's default_args
(retries=2, retry_delay) and its trigger_rule='one_failed' alert task."""

from __future__ import annotations

import pytest

from conftest import MESSY_CSV
from gcp_serverless_etl_pipeline_lab_spark.pipeline import (
    run_sales_etl_with_policy,
    with_retry,
)
from gcp_serverless_etl_pipeline_lab_spark.plans.quality import DataQualityError


def test_retry_recovers_from_transient_failure():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")
        return "ok"

    alerts = []
    out = with_retry(
        flaky, retries=2, retry_delay_s=0, on_failure=alerts.append
    )
    assert out == "ok"
    assert calls["n"] == 3  # first attempt + both retries
    assert alerts == []  # recovery -> no alert


def test_retries_exhausted_fires_alert_and_raises():
    calls = {"n": 0}
    alerts = []

    def always_fails():
        calls["n"] += 1
        raise RuntimeError("permanent")

    with pytest.raises(RuntimeError, match="permanent"):
        with_retry(
            always_fails, retries=2, retry_delay_s=0, on_failure=alerts.append
        )
    assert calls["n"] == 3  # 1 + 2 retries, like the reference default_args
    assert len(alerts) == 1  # alert fires exactly once, on terminal failure
    assert "permanent" in str(alerts[0])


def test_broken_alert_hook_does_not_mask_root_failure():
    def bad_hook(exc):
        raise OSError("smtp down")

    with pytest.raises(RuntimeError, match="root"):
        with_retry(
            lambda: (_ for _ in ()).throw(RuntimeError("root")),
            retries=0,
            retry_delay_s=0,
            on_failure=bad_hook,
        )


def test_policy_pipeline_success_no_alert(spark, tmp_path):
    alerts = []
    result = run_sales_etl_with_policy(
        spark,
        MESSY_CSV,
        warehouse_path=str(tmp_path / "wh"),
        dead_letter_path=str(tmp_path / "dl"),
        retry_delay_s=0,
        on_failure=alerts.append,
    )
    assert result.clean.count() > 0
    assert alerts == []


def test_policy_pipeline_gate_failure_alerts(spark, tmp_path):
    # a CSV whose every row errors -> empty clean table -> gate raises
    bad = tmp_path / "all_bad.csv"
    bad.write_text("id,product,price,quantity,sale_date\n1,Widget,oops,1,2024-01-01\n")
    alerts = []
    with pytest.raises(DataQualityError):
        run_sales_etl_with_policy(
            spark, str(bad), retries=1, retry_delay_s=0, on_failure=alerts.append
        )
    assert len(alerts) == 1
    assert isinstance(alerts[0], DataQualityError)


def test_staged_split_matches_persist_split(spark, tmp_path):
    """The write-once staging path must produce byte-identical clean and
    error partitions to the persist path."""
    from gcp_serverless_etl_pipeline_lab_spark.operators.transform import (
        finalize_clean,
        finalize_errors,
        split_clean_errors_staged,
    )
    from gcp_serverless_etl_pipeline_lab_spark.operators.validate import annotate
    from gcp_serverless_etl_pipeline_lab_spark.sources.text_csv import (
        read_raw_lines,
    )

    annotated = annotate(read_raw_lines(spark, MESSY_CSV))
    c1, e1 = finalize_clean(annotated), finalize_errors(annotated)
    c2, e2 = split_clean_errors_staged(annotated, str(tmp_path / "staging"))
    assert c2.schema == c1.schema
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))
    assert sorted(map(tuple, e1.collect())) == sorted(map(tuple, e2.collect()))
