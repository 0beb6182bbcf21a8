"""The driver-route mechanism (``operators.route``): every fallback
reason the helper owns, the budget boundary of each route, and a
forced ``spark.driver.maxResultSize`` abort on each route."""

import datetime
import decimal
import pathlib

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from databridge_etl_tools_spark.operators import route

ABORT = (
    "Job aborted due to stage failure: Total size of serialized results "
    "of 3 tasks (1126.0 MiB) is bigger than spark.driver.maxResultSize "
    "(1024.0 MiB)"
)


class _Raises:
    """A frame whose Arrow collect raises ``exc``."""

    def __init__(self, exc):
        self.exc = exc

    def toArrow(self):
        raise self.exc


# -- the helper's own fallback reasons ---------------------------------


def test_budget_table_reads_env_at_call_time(monkeypatch):
    assert route.BUDGETS == {
        "graph": ("SPARK_GRAFT_GRAPH_DRIVER_EDGES", 8_000_000),
        "orderstats": ("SPARK_GRAFT_ORDERSTATS_DRIVER_ROWS", 4_000_000),
        "ann": ("SPARK_GRAFT_ANN_DRIVER_ROWS", 500_000),
        "bpe": ("SPARK_GRAFT_BPE_DRIVER_VOCAB", 1_000_000),
    }
    for name, (env, default) in route.BUDGETS.items():
        monkeypatch.delenv(env, raising=False)
        assert route.budget(name) == default
        monkeypatch.setenv(env, "7")
        assert route.budget(name) == 7


def test_budget_zero_never_collects():
    boom = _Raises(AssertionError("collected with a zero budget"))
    assert route.collect_bounded(boom, 0) is None
    assert route.collect_bounded(boom, -1) is None


def test_over_budget_falls_back(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x long")
    assert route.collect_bounded(df, 2) is None
    tbl = route.collect_bounded(df, 3)
    assert sorted(tbl.column("x").to_pylist()) == [1, 2, 3]


def test_maxresultsize_abort_falls_back():
    assert route.collect_bounded(_Raises(Exception(ABORT)), 10) is None


def test_other_bigger_than_errors_propagate():
    """Only the maxResultSize abort means "too big for the driver";
    any other error — even one whose message says "bigger than" —
    must surface, not silently re-run the distributed plan."""
    exc = Exception(
        "[VARIANT_SIZE_LIMIT] Cannot build variant bigger than 16.0 MiB "
        "in parse_json."
    )
    with pytest.raises(Exception, match="Cannot build variant"):
        route.collect_bounded(_Raises(exc), 10)
    with pytest.raises(ValueError):
        route.collect_bounded(_Raises(ValueError("boom")), 10)


def test_columns_null_refusal():
    tbl = pa.table({"a": [1, 2], "b": [3, None]})
    assert route.columns(tbl, ["a", "b"]) is None
    (a,) = route.columns(tbl, ["a"])
    assert a.tolist() == [1, 2]


def test_matrix_refusals_and_decode():
    ok = pa.table({"v": [[1.0, 2.0], [3.0, 4.5]]})
    m = route.matrix(ok, "v")
    assert m.dtype.name == "float64" and m.tolist() == [[1, 2], [3, 4.5]]
    assert route.matrix(pa.table({"v": [[1.0], None]}), "v") is None
    assert route.matrix(pa.table({"v": [[1.0, None], [2.0, 3.0]]}), "v") is None
    assert route.matrix(pa.table({"v": [[1.0, 2.0], [3.0]]}), "v") is None
    # zero-length and empty inputs decode; refusing them is per site
    assert route.matrix(pa.table({"v": [[], []]}), "v").shape == (2, 0)
    empty = pa.table({"v": pa.array([], pa.list_(pa.float32()))})
    assert route.matrix(empty, "v").shape == (0, 0)


# -- every route: budget boundary and forced abort ---------------------


def _emb(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 4.5 for j in range(4)])
        for i in range(1, 13)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _graph(spark):
    from databridge_etl_tools_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 2), (3, 4), (4, 2)], "src long, dst long"
    )
    return lambda: _rows(pagerank(edges, iters=3))


def _orderstats(spark):
    from databridge_etl_tools_spark.operators.orderstats import kth_smallest_by

    df = spark.createDataFrame(
        [(["a", "b"][i % 2], (i * 37) % 23) for i in range(40)],
        "g string, v long",
    )
    return lambda: kth_smallest_by(
        df, "g", "v", lambda n: {1, (n + 1) // 2, n}
    )


def _ann_topk(spark):
    from databridge_etl_tools_spark.operators.similarity import cosine_topk

    emb = _emb(spark)
    return lambda: _rows(cosine_topk(emb, k=3))


def _ann_collect(spark):
    from databridge_etl_tools_spark.operators.similarity import kcenter_greedy

    emb = _emb(spark)
    return lambda: _rows(kcenter_greedy(emb, k=4))


def _pca(spark):
    from databridge_etl_tools_spark.operators.pca import (
        pca_fit,
        pca_prefilter_topk,
    )

    emb = _emb(spark)
    model = pca_fit(emb, "embedding", k=2)
    return lambda: _rows(pca_prefilter_topk(emb, model, k=3, shortlist=6))


def _bpe(spark):
    from databridge_etl_tools_spark.operators.bpe import bpe_fit_words

    docs = spark.createDataFrame(
        [
            (1, "lower lowest newer newest"),
            (2, "low lower lowly widest wider"),
            (3, "newest lowest wide low"),
        ],
        "doc_id bigint, text string",
    )

    def run():
        merges, words = bpe_fit_words(docs, n_merges=4)
        return merges, _rows(words.select("w", "freq", "_toks"))

    return run


ROUTES = {
    "graph": ("graph", _graph),
    "orderstats": ("orderstats", _orderstats),
    "ann_topk": ("ann", _ann_topk),
    "ann_collect": ("ann", _ann_collect),
    "pca_prefilter": ("ann", _pca),
    "bpe": ("bpe", _bpe),
}


@pytest.fixture
def routed_rows(monkeypatch):
    """Spy on ``route.collect_bounded``: the row counts of the tables
    it handed back (None entries are dropped: those calls fell back)."""
    got = []
    orig = route.collect_bounded

    def spy(df, budget):
        tbl = orig(df, budget)
        if tbl is not None:
            got.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(route, "collect_bounded", spy)
    return got


@pytest.mark.parametrize("case", sorted(ROUTES))
def test_budget_boundary(spark, monkeypatch, routed_rows, case):
    name, make = ROUTES[case]
    env = route.BUDGETS[name][0]
    run = make(spark)
    monkeypatch.setenv(env, "100000000")
    run()
    assert len(routed_rows) == 1, routed_rows
    n = routed_rows.pop()
    assert n > 1
    results = {}
    for b in (n - 1, n, n + 1):
        monkeypatch.setenv(env, str(b))
        results[b] = run()
        assert routed_rows == ([] if b < n else [n]), (b, routed_rows)
        routed_rows.clear()
    assert results[n - 1] == results[n] == results[n + 1]


@pytest.mark.parametrize("case", sorted(ROUTES))
def test_forced_abort_matches_distributed(spark, monkeypatch, case):
    name, make = ROUTES[case]
    env = route.BUDGETS[name][0]
    run = make(spark)
    monkeypatch.setenv(env, "0")
    dist = run()
    monkeypatch.setenv(env, "100000000")
    orig = route.collect_bounded
    aborted = []

    def abort(df, budget):
        aborted.append(budget)
        return orig(_Raises(Exception(ABORT)), budget)

    monkeypatch.setattr(route, "collect_bounded", abort)
    assert run() == dist
    assert aborted


# -- the way back in: driver_frame -------------------------------------

_T0 = datetime.datetime(2024, 3, 10, 2, 30, 15, 123456)

PARITY = {
    "int": ([(1,), (-(2**31),), (2**31 - 1,), (None,)], "x int"),
    "bigint": ([(2**62,), (-(2**63),), (None,)], "x bigint"),
    "double": ([(1.5,), (float("nan"),), (-0.0,), (None,)], "x double"),
    "string": ([("a",), ("",), ("é漢",), (None,)], "x string"),
    "boolean": ([(True,), (False,), (None,)], "x boolean"),
    "date": ([(datetime.date(1969, 12, 31),), (datetime.date(2024, 2, 29),), (None,)], "x date"),
    "timestamp": (
        [
            (_T0,),
            (_T0.replace(tzinfo=datetime.timezone(datetime.timedelta(hours=5))),),
            (datetime.datetime(1960, 1, 1),),
            (None,),
        ],
        "x timestamp",
    ),
    "timestamp_ntz": ([(_T0,), (None,)], "x timestamp_ntz"),
    "decimal": (
        [(decimal.Decimal("1.005"),), (decimal.Decimal("-12345678.994"),), (None,)],
        "x decimal(10,2)",
    ),
    "binary": ([(b"\x00\xff",), (bytearray(b"ab"),), (None,)], "x binary"),
    "array<string>": ([(["a", None],), ([],), (None,)], "x array<string>"),
    "array<long>": ([([1, 2**40],), ([None],), (None,)], "x array<long>"),
    "mixed": (
        [("a", 1, 2.0, [3], datetime.date(2020, 1, 1)), (None, None, None, None, None)],
        "s string, i int, d double, l array<long>, t date",
    ),
    "0 rows": ([], "a int, b string, c array<bigint>, d timestamp"),
    "1 row": ([(7, "x")], "a int, b string"),
    "struct schema": (
        [{"k": 1, "v": "a"}, {"k": 2, "v": None}],
        T.StructType(
            [T.StructField("k", T.LongType(), False), T.StructField("v", T.StringType())]
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(PARITY))
def test_driver_frame_parity_with_list_path(spark, case):
    rows, schema = PARITY[case]
    want = spark.createDataFrame(rows, schema)
    got = route.driver_frame(spark, rows, schema)
    assert got.schema == want.schema
    # repr: NaN equals itself and -0.0 differs from 0.0
    assert [repr(tuple(r)) for r in got.collect()] == [repr(tuple(r)) for r in want.collect()]


def test_driver_frame_keeps_every_row_and_the_list_path_order(spark):
    """Row counts around ``defaultParallelism`` leave empty slices,
    which must not reach the JVM (a zero-row batch ends its read)."""
    p = spark.sparkContext.defaultParallelism
    for n in (0, 1, p - 1, p, p + 1, 3 * p + 2):
        df = route.driver_frame(spark, [(i, [i]) for i in range(n)], "i long, l array<long>")
        assert [tuple(r) for r in df.collect()] == [(i, [i]) for i in range(n)], n


@pytest.mark.parametrize(
    "rows, schema",
    [
        ([("1",)], "x int"),
        ([(1,)], "x double"),
        ([(2**31,)], "x int"),
        ([(1, 2)], "x int"),
        ([(None,)], T.StructType([T.StructField("x", T.IntegerType(), False)])),
        ([([1, None],)], T.StructType([T.StructField("x", T.ArrayType(T.LongType(), False))])),
    ],
)
def test_driver_frame_rejects_what_the_list_path_rejects(spark, rows, schema):
    with pytest.raises((TypeError, ValueError)):
        spark.createDataFrame(rows, schema)
    with pytest.raises((TypeError, ValueError)):
        route.driver_frame(spark, rows, schema)


def test_driver_frame_runs_no_python_rdd(spark):
    def lineage(df):
        return df._jdf.queryExecution().toRdd().toDebugString()

    rows, schema = [(i, str(i)) for i in range(50)], "a long, b string"
    assert "PythonRDD" in lineage(spark.createDataFrame(rows, schema))
    assert "PythonRDD" not in lineage(route.driver_frame(spark, rows, schema))


def test_create_dataframe_only_inside_driver_frame():
    """Driver-side rows enter Spark only through ``route.driver_frame``;
    the two pandas frames cross through Arrow already."""
    pkg = pathlib.Path(route.__file__).resolve().parents[1]
    found = sorted(
        (str(p.relative_to(pkg)), line.strip())
        for p in pkg.rglob("*.py")
        for line in p.read_text().splitlines()
        if "createDataFrame(" in line and not line.lstrip().startswith(("#", '"""'))
    )
    assert found == [
        ("operators/graph.py", "return spark.createDataFrame(pdf, schema)"),
        (
            "operators/route.py",
            "return spark.createDataFrame(pa.Table.from_batches(slices or [batch]), schema)",
        ),
        ("operators/similarity.py", "return cents, emb.sparkSession.createDataFrame(pdf, schema)"),
    ]
