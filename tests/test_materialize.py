"""``operators/materialize.pin``: the shared lineage-cut helper."""

from __future__ import annotations


def test_pin_reliable_checkpoint_roundtrip(spark, tmp_path, monkeypatch):
    """Default is localCheckpoint; ``reliable=True`` routes to
    replicated ``checkpoint()`` (checkpoint dir required); the env switch
    flips the registered-query default.  Both forms are value-identical."""
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.materialize import (
        pin,
        reliable_default,
    )

    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    assert reliable_default() is False
    local = pin(spark.range(10))
    assert sorted(r.id for r in local.collect()) == list(range(10))
    assert "LogicalRDD" in local._jdf.queryExecution().optimizedPlan().toString()

    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rel = pin(spark.range(10), reliable=True)
    assert sorted(r.id for r in rel.collect()) == list(range(10))
    assert "LogicalRDD" in rel._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    assert reliable_default() is True
