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


def test_pin_reliable_without_checkpoint_dir_fails_clearly(spark, monkeypatch):
    """Reliable mode with no checkpoint directory raises a ValueError
    naming the setup call and the env switch, for both ways of asking
    (the explicit argument and the env default), instead of Spark's
    opaque checkpoint error.  The session-wide directory cannot be unset
    once another test sets it, so the lookup is stubbed to "unset"."""
    import pytest

    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.materialize import pin

    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
    match = r"SparkContext\.setCheckpointDir.*SPARK_GRAFT_RELIABLE_CHECKPOINT"
    with pytest.raises(ValueError, match=match):
        pin(spark.range(3), reliable=True)
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    with pytest.raises(ValueError, match=match):
        pin(spark.range(3))
    # the default local form needs no directory
    assert pin(spark.range(3), reliable=False).count() == 3
    # connected_components' reliable_checkpoint goes through the same check
    from amazon_kinesis_data_analytics_flinktableapi_spark.operators.components import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(ValueError, match=match):
        connected_components(edges, reliable_checkpoint=True)
