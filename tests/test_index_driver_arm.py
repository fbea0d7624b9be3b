"""IVF index builds and appends take one of two arms on the size of
their input: at or below ``cumsum.DRIVER_BYTES`` (Catalyst's estimate)
the input is collected once and the per-batch kernels run on the
driver; above it they run as Arrow map stages. Both arms must write
the same store, relation by relation, or the gate would change every
served result with corpus size."""

from __future__ import annotations

import os
import tempfile

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tests.test_index_maintenance import SF_DIR
from udacity_dend_capstone_immigration_spark.operators import cumsum as C
from udacity_dend_capstone_immigration_spark.workload import vectors as V

#: gate values that force each arm
ARMS = {"driver": 1 << 60, "distributed": -1}


def _canon(v):
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return v


def _relations(spark, d):
    """{relation: (columns, sorted rows)} of every relation in a store."""
    out = {}
    for rel in sorted(os.listdir(d)):
        if rel.startswith(("_", ".")):
            continue
        df = spark.read.parquet(f"{d}/{rel}")
        cols = sorted(df.columns)
        out[rel] = (cols, sorted(_canon(tuple(r)) for r in df.select(*cols).collect()))
    return out


def _both_arms(spark, monkeypatch, make):
    """Run ``make(out_dir)`` under each arm; returns {arm: relations}
    and checks the driver arm started no Arrow map stage."""
    calls = []
    frame_cls = type(spark.range(1))
    real = frame_cls.mapInPandas

    def counting(self, *a, **k):
        calls.append(1)
        return real(self, *a, **k)

    monkeypatch.setattr(frame_cls, "mapInPandas", counting)
    out = {}
    for arm, gate in ARMS.items():
        monkeypatch.setattr(C, "DRIVER_BYTES", gate)
        calls.clear()
        d = make(tempfile.mkdtemp(prefix=f"driver_arm_{arm}_t_"))
        out[arm] = _relations(spark, d)
        assert (not calls) if arm == "driver" else calls, (arm, len(calls))
    return out


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")


@pytest.mark.parametrize(
    "kind",
    ["flat", "sq8", "pq", "pq_residual"],
)
def test_build_arms_write_equal_stores(spark, monkeypatch, emb, kind):
    build = {
        "flat": lambda d: V.build_ivf_flat_index(spark, SF_DIR, d, emb=emb),
        "sq8": lambda d: V.build_ivf_sq8_index(spark, SF_DIR, d, emb=emb),
        "pq": lambda d: V.build_ivfpq_index(spark, SF_DIR, d, emb=emb),
        "pq_residual": lambda d: V.build_ivfpq_index(spark, SF_DIR, d, emb=emb, residual=True),
    }[kind]
    got = _both_arms(spark, monkeypatch, build)
    assert got["driver"] == got["distributed"]
    assert got["driver"]


def test_flat_append_arms_write_equal_stores(spark, monkeypatch, emb):
    def build_and_append(d):
        V.build_ivf_flat_index(spark, SF_DIR, d, emb=emb.where(F.col("vec_id") % 3 != 0))
        V.append_to_ivf_flat_index(spark, emb.where(F.col("vec_id") % 3 == 0), d)
        return d

    got = _both_arms(spark, monkeypatch, build_and_append)
    assert got["driver"] == got["distributed"]
    assert len(got["driver"]["ivf_vectors"][1]) == emb.count()


def test_driver_arm_only_at_or_below_the_gate(spark, monkeypatch, emb):
    est = C.estimated_bytes(emb)
    assert est is not None
    monkeypatch.setattr(C, "DRIVER_BYTES", est)
    assert isinstance(V._driver_input(emb), pa.Table)
    monkeypatch.setattr(C, "DRIVER_BYTES", est - 1)
    assert V._driver_input(emb) is emb
