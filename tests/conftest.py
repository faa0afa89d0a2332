from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from doctr_spark.session import get_spark

    s = get_spark(master="local[4]", app_name="doctr_spark_tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def check_loc_hooks(spark):
    """Checks ``run(hooks) -> documents DataFrame`` against docTR's hook
    contract (`doctr/models/predictor/base.py:310-316`): each hook gets one
    turn's loc_preds, a list of (N, 5) relative float arrays, at execution
    time; an identity hook changes nothing; dropping boxes drops words; a
    hook that returns the wrong number of pages fails the job."""

    def check(run):
        from pyspark.sql import functions as F  # noqa: N812

        calls = spark.sparkContext.accumulator(0)

        def identity(loc_preds):
            assert isinstance(loc_preds, list)
            for p in loc_preds:
                assert p.ndim == 2 and p.shape[1] == 5 and p.dtype.kind == "f", p.shape
                assert ((p >= 0) & (p <= 1)).all()
            calls.add(1)
            return loc_preds

        def drop_left_half(loc_preds):
            return [p[p[:, 0] >= 0.5] for p in loc_preds]

        base = {(r["conv_id"], r["turn_idx"]): r for r in run([]).collect()}
        same = run([identity])
        assert calls.value == 0  # building the plan runs no hook
        assert {(r["conv_id"], r["turn_idx"]): r for r in same.collect()} == base
        assert calls.value == len(base) > 0  # once per payload turn
        base_words = sum(r["n_words"] for r in base.values())
        hooked_words = run([drop_left_half]).agg(F.sum("n_words")).first()[0]
        assert 0 < hooked_words < base_words
        with pytest.raises(Exception, match="page arrays for a"):  # a hook dropped a page
            run([lambda loc_preds: loc_preds[:-1]]).collect()

    return check
