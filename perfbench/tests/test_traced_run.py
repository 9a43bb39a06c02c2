"""A traced round of the project workload on small inputs: outputs pass
their checks and at least 95 % of the Spark jobs fall inside a named
span."""

import os

import pytest

from perfbench import gen, run, runner, tracing
from perfbench.project import ProjectQuery


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    session = run._start_spark(str(tmp_path_factory.mktemp("spark")))
    yield session
    run._stop_spark(session)


def _traced_round(spark, wl, tmp_path):
    data, work = tmp_path / "inputs", tmp_path / "work"
    os.makedirs(data)
    os.makedirs(work)
    wl.generate(str(data))
    wl.prepare(str(data), str(work))
    tracer = tracing.Tracer()
    r = runner.Runner(tracer)
    tracer.install()
    try:
        wl.round(r)
    finally:
        tracer.uninstall()
    assert [op.error for op in r.ops] == [None] * len(r.ops)
    jobs = tracing.fetch_jobs(spark, r.ops[0].start, r.ops[-1].end)
    assert jobs
    layers = runner.layer_metrics(r.ops, tracer, jobs, 0.0)
    assert layers["trace.jobs_in_span_share"][0] >= 0.95
    return layers


def test_project_query_round(spark, tmp_path):
    wl = ProjectQuery(spark, seed=3)
    wl.shape = gen.LoadShape(states=2, counties_per_state=2, hours=96)
    wl.index.shape = gen.VectorShape(base_rows=400, batch_rows=100)
    layers = _traced_round(spark, wl, tmp_path)
    for module in ("query.submitter", "operators.mapping", "pipeline.indexlog",
                   "pipeline.rebalance"):
        assert layers[f"{module}.calls"][0] > 0, module
    assert layers["storage.bytes_rewritten"][0] > 0
    assert layers["phase.execute_jobs"][0] > 0


def test_tracer_restores_every_binding():
    import __spark_entry__ as entry
    from dsgrid_spark.query import submitter

    before = (entry.map_stacked_dimension, submitter.map_stacked_dimension,
              submitter.QuerySubmitter.submit)
    tracer = tracing.Tracer()
    tracer.install()
    try:
        assert entry.map_stacked_dimension is not before[0]
        assert submitter.QuerySubmitter.submit is not before[2]
        assert entry.map_stacked_dimension.__wrapped__ is before[0]
    finally:
        tracer.uninstall()
    assert (entry.map_stacked_dimension, submitter.map_stacked_dimension,
            submitter.QuerySubmitter.submit) == before


def test_innermost_span_walks_up_to_the_container():
    tracer = tracing.Tracer()
    tracer.spans = [["op:a", 0.0, 10.0, -1, 0.0],
                    ["m.x", 1.0, 2.0, 0, 0.0],
                    ["m.y", 3.0, 4.0, 0, 0.0],
                    ["m.z", 3.5, 3.6, 2, 0.0]]
    assert tracer.innermost(1.5) == 1
    assert tracer.innermost(2.5) == 0
    assert tracer.innermost(3.55) == 3
    assert tracer.innermost(3.8) == 2
    assert tracer.innermost(11.0) == -1
    assert tracer.enclosing(3, "op:") == 0
