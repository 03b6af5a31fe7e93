"""Session factory (shuffle-partition inference from the master string)
and the narrow-scan widen rule on both sides of its threshold."""

import os
import re

from imageduplicatefinder_spark.session import _local_cores


def test_local_cores_parses_every_local_master_shape():
    assert _local_cores("local") == 1          # bare local is 1 thread
    assert _local_cores("local[2]") == 2
    assert _local_cores("local[32]") == 32
    assert _local_cores("local[2,3]") == 2     # retry form keeps N
    assert _local_cores("local[*]") == (os.cpu_count() or 1)
    assert _local_cores("local[*,4]") == (os.cpu_count() or 1)


def test_local_cores_none_for_cluster_masters():
    assert _local_cores("yarn") is None
    assert _local_cores("spark://host:7077") is None
    assert _local_cores("k8s://https://host:443") is None
    assert _local_cores("localhost") is None   # not a local[] shape


def test_cc_algorithm_does_not_invalidate_checkpoints():
    """Both CC algorithms produce identical labels, so flipping the knob
    must reuse existing checkpoints (same config hash) — the recovery
    path for a run label propagation could not converge."""
    from imageduplicatefinder_spark.config import DedupConfig

    assert (DedupConfig().config_hash()
            == DedupConfig(cc_algorithm="star").config_hash())
    assert (DedupConfig().config_hash()
            != DedupConfig(shingle_k=5).config_hash())


def _write_parquet(spark, path, n_files):
    spark.range(800).withColumnRenamed("id", "doc_id").repartition(
        n_files
    ).write.parquet(str(path))
    return spark.read.parquet(str(path))


def test_widen_repartitions_narrow_scan_by_key(spark, tmp_path):
    """Fewer input files than defaultParallelism: the scan is
    repartitioned to 2 x parallelism, hash-partitioned by the key."""
    from imageduplicatefinder_spark.operators.signatures import widen_if_narrow

    par = spark.sparkContext.defaultParallelism
    src = _write_parquet(spark, tmp_path / "one", 1)
    assert len(src.inputFiles()) == 1 < par
    plan = widen_if_narrow(src)._jdf.queryExecution().executedPlan().toString()
    assert re.search(rf"hashpartitioning\(doc_id#\d+L, {2 * par}\)", plan), plan


def test_widen_leaves_wide_scan_unchanged(spark, tmp_path):
    """At least defaultParallelism input files: the same frame comes
    back and no Exchange is planned."""
    from imageduplicatefinder_spark.operators.signatures import widen_if_narrow

    par = spark.sparkContext.defaultParallelism
    src = _write_parquet(spark, tmp_path / "wide", par)
    assert len(src.inputFiles()) >= par
    out = widen_if_narrow(src)
    assert out is src
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
