"""Driver contraction (operators/contraction.py): every kernel's driver
twin must return exactly what its distributed loop returns, inputs a
twin cannot take must run the loop, and an over-the-bound logreg corpus
must fall through before paying for featurization."""

import random

import pytest

from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    classifier as CL,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    clustering as CC,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    contraction,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    graph as GR,
)
from sample_python_lambdas_glue_and_pyspark_scripts_spark.operators import (
    similarity as S,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _logreg_docs(spark, label=lambda i: float(i % 2)):
    rows = [
        (i, f"alpha beta doc {i} " + ("good text " * (i % 5)), label(i))
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING, y DOUBLE")


def _logreg(spark):
    """Multi-iteration fit with lr != 1."""
    df = _logreg_docs(spark)
    return lambda: _rows(CL.logreg_fit(df, "y", dim=32, n_iter=3, lr=2.0))


def _pagerank(spark):
    """Weighted edges, a dangling node, a self-loop."""
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 1.0),
         (4, 4, 1.0), (5, 1, 2.5)],
        "src INT, dst INT, w DOUBLE",
    )
    return lambda: _rows(GR.pagerank(edges, weight_col="w", n_iter=4))


def _ppr(spark):
    """Weighted edges, weighted seeds, a dangling node, an unreachable
    component."""
    edges = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 1.0),
         (4, 5, 1.0), (10, 11, 1.0), (11, 10, 2.0)],
        "src INT, dst INT, w DOUBLE",
    )
    seeds = spark.createDataFrame([(1, 2.0), (3, 1.0)], "node INT, sw DOUBLE")
    kw = dict(weight_col="w", seed_weight_col="sw", n_iter=4)
    return lambda: _rows(GR.personalized_pagerank(edges, seeds, **kw))


def _lpa(spark):
    """Two triangles with a bridge, a chain, duplicate/self edges."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4),
         (10, 11), (11, 12), (7, 7), (1, 2)],
        "a INT, b INT",
    )
    return lambda: _rows(GR.label_propagation(edges, n_iter=4))


def _cc_edges(spark):
    """Chain, clique, triangle with a tail, self-loop, random cluster."""
    edges = []
    edges += [(i + 1, i) for i in range(30, 50)]
    edges += [(a, b) for a in range(5) for b in range(a)]
    edges += [(60, 61), (61, 62), (62, 60), (62, 63)]
    edges += [(70, 70), (71, 72)]
    rnd = random.Random(11)
    nodes = list(range(100, 140))
    edges += [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(50)]
    return spark.createDataFrame(edges, "a BIGINT, b BIGINT")


def _cc(spark):
    df = _cc_edges(spark)
    return lambda: _rows(CC.connected_components(df, max_iter=60))


def _cc_star(spark):
    df = _cc_edges(spark)
    return lambda: _rows(CC.connected_components_star(df))


def _kmeans_vectors():
    rnd = random.Random(7)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(60)
    ]
    # two far outlier seeds so one seed cluster empties after round 1
    rows += [(100, [50.0] * 8), (101, [50.1] * 8)]
    return rows


def _kmeans_case(early_stop):
    def case(spark):
        df = spark.createDataFrame(
            _kmeans_vectors(), "vec_id BIGINT, embedding ARRAY<DOUBLE>"
        )

        def run():
            a, c = S.kmeans_fit(df, k=5, n_iter=3, early_stop=early_stop)
            return _rows(a), _rows(c)

        return run

    return case


def _pq(spark):
    rnd = random.Random(13)
    rows = [
        (i, [round(rnd.uniform(-1, 1), 3) for _ in range(16)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    return lambda: _rows(S.pq_fit(df, m_sub=4, k_codes=6, n_iter=2))


# kernel -> (module, the function whose non-None result marks the driver
# branch, case builder returning a zero-arg run)
KERNELS = {
    "logreg": (CL, "_logreg_fit_driver", _logreg),
    "pagerank": (GR, "_ppr_driver_iterate", _pagerank),
    "ppr": (GR, "_ppr_driver_iterate", _ppr),
    "lpa": (GR, "_lpa_driver_iterate", _lpa),
    "cc": (CC, "_cc_driver_labels", _cc),
    "cc_star": (CC, "_cc_driver_labels", _cc_star),
    "kmeans": (S, "_collect_vectors_bounded", _kmeans_case(False)),
    "kmeans_early_stop": (S, "_collect_vectors_bounded", _kmeans_case(True)),
    "pq": (S, "_collect_vectors_bounded", _pq),
}


def _spy(monkeypatch, module, name):
    """Record every non-None result of ``module.name``."""
    real = getattr(module, name)
    hits = []

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        if out is not None:
            hits.append(name)
        return out

    monkeypatch.setattr(module, name, spy)
    return hits


@pytest.mark.parametrize("kernel", list(KERNELS))
def test_driver_twin_equals_distributed_loop(spark, monkeypatch, kernel):
    module, marker, case = KERNELS[kernel]
    run = case(spark)
    hits = _spy(monkeypatch, module, marker)
    driver = run()
    assert hits, f"{kernel}: the driver twin did not run"
    hits.clear()
    with contraction.forced_off():
        loop = run()
    assert not hits, f"{kernel}: forced_off still took the driver branch"
    assert driver == loop


def _cc_string_ids(spark):
    sdf = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "a STRING, b STRING"
    )
    want = {("a", "a"), ("b", "a"), ("c", "a"), ("x", "x"), ("y", "x")}
    return lambda: _rows(CC.connected_components(sdf, max_iter=10)), want


def _kmeans_unsafe(bad_vector):
    def case(spark):
        rows = _kmeans_vectors()[:12] + [(200, bad_vector)]
        df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

        def assigned_ids():
            return {r[0] for r in S.kmeans_fit(df, k=3, n_iter=2)[0].collect()}

        return assigned_ids, {r[0] for r in rows}

    return case


def _logreg_null_label(spark):
    df = _logreg_docs(spark, label=lambda i: None if i == 3 else float(i % 2))

    def run():
        return _rows(CL.logreg_fit(df, "y", dim=8, n_iter=1))

    with contraction.forced_off():
        return run, run()


# case -> (module, driver-branch marker, builder returning (run, expected))
UNSAFE = {
    "cc_string_ids": (CC, "_cc_driver_labels", _cc_string_ids),
    "kmeans_ragged_vector": (
        S, "_collect_vectors_bounded", _kmeans_unsafe([1.0, 2.0])
    ),
    "kmeans_null_vector": (S, "_collect_vectors_bounded", _kmeans_unsafe(None)),
    "logreg_null_label": (CL, "_logreg_fit_driver", _logreg_null_label),
}


@pytest.mark.parametrize("case", list(UNSAFE))
def test_unsafe_input_takes_distributed_loop(spark, monkeypatch, case):
    """String ids (collation), ragged/NULL vectors and NULL labels are
    outside what the twins are proven on: under the default bounds
    they must still run the distributed loop."""
    module, marker, build = UNSAFE[case]
    run, want = build(spark)
    hits = _spy(monkeypatch, module, marker)
    assert run() == want
    assert not hits, f"{case}: took the driver branch"


def test_logreg_over_bound_probe_runs_no_shuffle(spark, monkeypatch):
    """A corpus over the logreg bound falls through on the narrow
    (id, label) probe: one single-stage job, no featurization shuffle."""
    monkeypatch.setitem(contraction.BOUNDS, "logreg_rows", 10)
    df = _logreg_docs(spark)
    sc = spark.sparkContext
    sc.setJobGroup("logreg-over-bound-probe", "logreg over-bound probe")
    try:
        got = CL._logreg_fit_driver(df, "y", "text", "doc_id", 32, 3, 2.0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got is None
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup("logreg-over-bound-probe")
    stages = [s for j in jobs for s in st.getJobInfo(j).stageIds]
    assert len(jobs) == 1 and len(stages) == 1, (jobs, stages)


def test_forced_off_restores_bounds():
    before = dict(contraction.BOUNDS)
    with contraction.forced_off():
        assert set(contraction.BOUNDS.values()) == {-1}
    assert contraction.BOUNDS == before
