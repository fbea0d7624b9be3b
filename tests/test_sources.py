"""Source layer (S1-S4; reference etl.py:128-158)."""

import pytest

from udacity_dend_capstone_immigration_spark.sources.readers import (
    first_available,
    from_pairs,
    read_csv_with_schema,
)
from udacity_dend_capstone_immigration_spark.plans.immigration_etl import DEMOGRAPHICS_SCHEMA


def test_from_pairs(spark):
    df = from_pairs(spark, [("1", "Air"), ("2", "Sea")], ("mode_id", "mode_name"))
    assert df.columns == ["mode_id", "mode_name"]
    assert df.schema["mode_id"].dataType.typeName() == "string"
    assert df.count() == 2


def test_csv_with_schema_semicolon(spark, tmp_path):
    p = tmp_path / "demo.csv"
    p.write_text(
        "City;State;Median Age;Male Population;Female Population;"
        "Total Population;Number of Veterans;Foreign-born;"
        "Average Household Size;State Code;Race;Count\n"
        "Boston;Massachusetts;33.0;40;45;85;2;9;2.1;MA;White;50\n"
    )
    df = read_csv_with_schema(spark, str(p), DEMOGRAPHICS_SCHEMA, sep=";")
    row = df.collect()[0]
    assert row["city"] == "Boston"
    assert row["male_population"] == 40
    assert abs(row["average_household_size"] - 2.1) < 1e-12


def test_first_available_fallback(spark, tmp_path):
    pq = tmp_path / "t.parquet"
    spark.createDataFrame([(1,)], "a int").write.parquet(str(pq))
    df = first_available(
        spark,
        [("com.github.saurfang.sas.spark", str(tmp_path / "missing.sas7bdat")),
         ("parquet", str(pq))],
    )
    assert df.count() == 1


def test_first_available_raises_when_none_exist(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        first_available(spark, [("parquet", str(tmp_path / "nope"))])


def test_first_available_sas_present_but_connector_missing_fails_loudly(spark, tmp_path):
    """S1 honesty gate (reference etl.py:128-138): first_available falls
    back on file ABSENCE only. A file that exists but is not a parseable
    SAS7BDAT must raise (pandas magic-number check in the pure-Python
    reader) — never silently fall through to the parquet candidate,
    which would return different data once the file is fixed."""
    sas = tmp_path / "i94_apr16_sub.sas7bdat"
    sas.write_bytes(b"\x00" * 16)  # existence is what's under test
    pq = tmp_path / "t.parquet"
    spark.createDataFrame([(1,)], "a int").write.parquet(str(pq))
    with pytest.raises(Exception) as exc:
        first_available(
            spark,
            [("com.github.saurfang.sas.spark", str(sas)), ("parquet", str(pq))],
        ).count()
    assert "sas" in str(exc.value).lower() or "ClassNotFound" in str(exc.value)


def test_load_star_full_default_list_on_default_session(spark, tmp_path):
    """load_star with the DEFAULT table list must work on a session with
    no special confs — events.parquet is TIMESTAMP(NANOS) and previously
    threw unless the caller set nanosAsLong first (round-1 verdict #5)."""
    from udacity_dend_capstone_immigration_spark.sources.readers import STAR_TABLES, load_star

    dfs = load_star(spark, "/root/testdata/sf0.001")
    assert set(dfs) == set(STAR_TABLES)
    assert dfs["events"].schema["ts"].dataType.typeName() == "timestamp"
    assert dfs["events"].limit(1).count() == 1
    # temp views registered (S7)
    assert spark.sql("SELECT COUNT(*) AS c FROM nation").collect()[0]["c"] == 25


def test_jsonl_roundtrip_with_schema_and_corrupt_capture(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from udacity_dend_capstone_immigration_spark.sources.readers import read_jsonl_with_schema
    from udacity_dend_capstone_immigration_spark.sources.writers import write_jsonl

    docs = spark.createDataFrame(
        [(0, "hello world", "en"), (1, "hola mundo", "es")],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, target_files=1)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
        ]
    )
    back = read_jsonl_with_schema(spark, out, schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # malformed line -> _corrupt_record column, scan does not fail
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "part-0.jsonl").write_text('{"doc_id": 7, "text": "ok", "lang": "en"}\n{not json\n')
    schema_c = schema.add("_corrupt_record", StringType())
    rows = read_jsonl_with_schema(spark, str(bad), schema_c).collect()
    good = [r for r in rows if r["_corrupt_record"] is None]
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(good) == 1 and good[0]["doc_id"] == 7
    assert len(corrupt) == 1


def test_config_file_session_bootstrap(spark, tmp_path):
    """INI-config parity with the reference (etl.py:17-25, capstone.cfg):
    shuffle partitions come from [COMMON]; missing file fails loudly.
    The live-session assertion reuses the shared session (getOrCreate),
    checking config parsing rather than spawning a second JVM app."""
    import pytest

    from udacity_dend_capstone_immigration_spark.session import load_engine_config

    cfg = tmp_path / "engine.cfg"
    cfg.write_text(
        "[DATA]\noutput_data_dir = /tmp/out\n"
        "[COMMON]\nnum_spark_shuffle_partitions = 7\n"
    )
    parsed = load_engine_config(str(cfg))
    assert parsed["DATA"]["output_data_dir"] == "/tmp/out"
    assert parsed["COMMON"]["num_spark_shuffle_partitions"] == "7"

    with pytest.raises(FileNotFoundError):
        load_engine_config(str(tmp_path / "absent.cfg"))


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Corpus batches gain columns over time; mergeSchema read must
    union the schemas and null-fill the missing column in old files —
    the schema-on-read property the engine's data-lake posture claims."""
    d = tmp_path / "evolving"
    spark.createDataFrame([(0, "old doc")], "doc_id long, text string").write.parquet(
        str(d / "batch0")
    )
    spark.createDataFrame(
        [(1, "new doc", "en")], "doc_id long, text string, lang string"
    ).write.parquet(str(d / "batch1"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        str(d / "batch0"), str(d / "batch1")
    )
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert rows == {0: None, 1: "en"}


# --- local_frame: the one driver-rows → DataFrame path ---------------

_LOCAL_CASES = [
    ([("a", 1, 2**40, 1.5, [1.0, -0.0])],
     "s string, i int, l long, d double, v array<double>"),
    ([(None, None, None, None, None), ("b", -3, 7, float("nan"), [None, 2.0])],
     "s string, i int, l long, d double, v array<double>"),
    ([], "s string, i int, l long, d double, v array<double>"),
]


@pytest.mark.parametrize("rows,ddl", _LOCAL_CASES, ids=["values", "nulls", "empty"])
def test_local_frame_matches_python_rows_path(spark, rows, ddl):
    from udacity_dend_capstone_immigration_spark.sources.readers import local_frame

    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())
    # a StructType schema is the same frame as its DDL string
    assert repr(local_frame(spark, rows, want.schema).collect()) == repr(
        got.collect()
    )


def _leaf(df) -> str:
    plan = df._jdf.queryExecution().analyzed()
    while plan.children().size() > 0:
        plan = plan.children().head()
    return plan.nodeName()


@pytest.mark.parametrize(
    "conf",
    [
        {},
        # the driver's default session: ANSI on, Arrow conversion off
        {
            "spark.sql.ansi.enabled": "true",
            "spark.sql.execution.arrow.pyspark.enabled": "false",
        },
    ],
    ids=["tuned", "default"],
)
def test_local_frame_is_a_local_relation(spark, conf):
    from udacity_dend_capstone_immigration_spark.sources.readers import local_frame

    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        rows = [(i, f"v{i}") for i in range(100)]
        df = local_frame(spark, rows, "k long, v string")
        assert _leaf(df) == "LocalRelation"
        assert [tuple(r) for r in df.collect()] == rows
        # the Python-rows path this replaces: a pickled Python RDD
        assert _leaf(spark.createDataFrame(rows, "k long, v string")) == "LogicalRDD"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_local_frame_above_threshold_stays_on_the_jvm(spark):
    """Past ``arrow.localRelationThreshold`` the rows become a JVM-side
    ``LogicalRDD`` over Arrow batches — same rows, no Python RDD."""
    from udacity_dend_capstone_immigration_spark.sources.readers import local_frame

    key = "spark.sql.execution.arrow.localRelationThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "0")
    try:
        df = local_frame(spark, [(1,), (2,)], "k long")
        assert _leaf(df) == "LogicalRDD"
        assert sorted(r["k"] for r in df.collect()) == [1, 2]
    finally:
        spark.conf.set(key, saved)


def test_no_create_dataframe_on_python_rows_outside_local_frame():
    """Source guard: package code builds driver-side rows only through
    ``sources.readers.local_frame``."""
    import ast
    from pathlib import Path

    import udacity_dend_capstone_immigration_spark as pkg

    root = Path(pkg.__file__).resolve().parent
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.relative_to(root).as_posix() == "sources/readers.py":
            fn = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
            )
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
                and id(node) not in allowed
            ):
                offenders.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not offenders, offenders
