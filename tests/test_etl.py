"""Golden end-to-end ETL test (SURVEY.md §5 item 3): EPrints-shaped JSON ->
eprints_to_bulkrax -> Bulkrax CSV, byte-compared (as parsed CSV rows)
against a golden file authored by an independent pure-python
implementation of the same mapping rules. Plus IO facade coverage
(X01-X03, X05-X06)."""

from __future__ import annotations

import csv
import glob
import os

import pytest
from pyspark.sql import functions as F

from eprints_to_hyku_data_tool_spark import etl
from eprints_to_hyku_data_tool_spark.sources import io as eio
from eprints_to_hyku_data_tool_spark.sources.tables import load_table

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.fixture(scope="module")
def eprints_df(spark):
    return eio.read_json(
        spark, f"{FIXTURES}/eprints.json", schema=etl.EPRINTS_SCHEMA
    )


@pytest.fixture(scope="module")
def subject_map_df(spark):
    return eio.read_csv(
        spark, f"{FIXTURES}/subject_map.csv", schema="code string, label string"
    )


def test_golden_bulkrax_csv(spark, eprints_df, subject_map_df, tmp_path):
    """X02 source + the domain transform + X05 sink == the golden file."""
    out_dir = str(tmp_path / "bulkrax")
    result = etl.eprints_to_bulkrax(eprints_df, subject_map_df).orderBy(
        "source_identifier"
    )
    eio.write_bulkrax_csv(result, out_dir)

    (csv_file,) = glob.glob(f"{out_dir}/part-*.csv")
    with open(csv_file, newline="") as f:
        got = list(csv.reader(f))
    with open(f"{FIXTURES}/bulkrax_expected.csv", newline="") as f:
        want = list(csv.reader(f))
    assert got[0] == want[0], "header mismatch"
    assert sorted(map(tuple, got[1:])) == sorted(map(tuple, want[1:]))


def test_creator_order_preserved(eprints_df, subject_map_df):
    """SURVEY §1.1: creator order is bibliographically meaningful."""
    row = (
        etl.eprints_to_bulkrax(eprints_df, subject_map_df)
        .filter(F.col("title") == "A Study of Metadata Migration")
        .collect()[0]
    )
    assert row["creator"] == "Zeta, Zoe|Alpha, Ann"
    # subject label order follows the original subjects array order too
    assert row["subject"] == "Social Sciences|Computer Science"


def test_unmapped_subjects_report(eprints_df, subject_map_df):
    """The referential-integrity anti-join: XX9 on eprint 102 is the only
    unmapped code."""
    report = etl.unmapped_subjects_report(eprints_df, subject_map_df).collect()
    assert [(r["eprintid"], r["code"]) for r in report] == [(102, "XX9")]


def _records(spark, rows):
    """EPrints records from (eprintid, subjects, abstract) triples, titled
    by their id so output rows can be told apart."""
    full = [
        (i, None, "article", str(i), abstract, "2020", None, None,
         subjects, None, None, None)
        for i, subjects, abstract in rows
    ]
    return spark.createDataFrame(full, etl.EPRINTS_SCHEMA)


def test_subject_resolution_edges(spark):
    """Each code resolves at its own position; a code with several labels
    emits them in ascending label order; null, empty and unmapped inputs
    resolve to nothing."""
    vocab = spark.createDataFrame(
        [
            ("A", "Zoo"),
            ("A", "Ant"),  # duplicate code: both labels, ascending
            (None, "Nobody"),  # null code: never matches, even a null
            ("B", "Bee"),
            ("C", "Aardvark"),  # label order differs from code order
        ],
        "code string, label string",
    )
    records = _records(
        spark,
        [
            (1, ["C", "B"], None),
            (2, ["A"], None),
            (3, [None, "B"], None),
            (4, None, None),
            (5, [], None),
            (6, ["X", "Y"], None),
            (7, ["B", "A", "B"], None),
        ],
    )
    got = {
        r["title"]: r["subject"]
        for r in etl.eprints_to_bulkrax(records, vocab).collect()
    }
    assert got == {
        "1": "Aardvark|Bee",
        "2": "Ant|Zoo",
        "3": "Bee",
        "4": "",
        "5": "",
        "6": "",
        "7": "Bee|Ant|Zoo|Bee",
    }


def test_bulkrax_plan_is_one_narrow_projection(spark, eprints_df, subject_map_df):
    """The records never shuffle: no explode, no hash exchange, no
    shuffled join, and the only broadcast is the vocabulary map."""
    df = etl.eprints_to_bulkrax(eprints_df, subject_map_df)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    p = p.split("== Initial Plan ==")[0]  # AQE: the plan that ran
    assert "Generate" not in p, p
    assert "Exchange hashpartitioning" not in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert p.count("BroadcastExchange") == 1, p
    broadcast = p.split("BroadcastExchange")[1]
    assert f"output=[{etl._VOCAB}" in broadcast.splitlines()[1], p


def test_bulkrax_sink_strips_c0_whitespace(spark, subject_map_df, tmp_path):
    """The sink's whitespace contract as it stands: the CSV writer strips
    leading and trailing chars <= U+0020 from every value, though the
    transform leaves abstracts untrimmed; U+00A0 is not whitespace to it."""
    abstracts = ["  lead", "\tTab", "trail\n", "\u00a0nbsp\u00a0"]
    records = _records(
        spark, [(i, None, a) for i, a in enumerate(abstracts, start=1)]
    )
    rows = etl.eprints_to_bulkrax(records, subject_map_df)
    assert sorted(r["abstract"] for r in rows.collect()) == sorted(abstracts)
    out_dir = str(tmp_path / "ws")
    eio.write_bulkrax_csv(rows, out_dir)
    (csv_file,) = glob.glob(f"{out_dir}/part-*.csv")
    with open(csv_file, newline="", encoding="utf-8") as f:
        got = {r["title"]: r["abstract"] for r in csv.DictReader(f)}
    assert got == {"1": "lead", "2": "Tab", "3": "trail", "4": "\u00a0nbsp\u00a0"}


def test_x01_csv_source(subject_map_df):
    rows = {r["code"]: r["label"] for r in subject_map_df.collect()}
    assert rows["QA76"] == "Computer Science"
    assert len(rows) == 5


def test_x03_xml_source(spark, eprints_df):
    """EP3-shaped XML parses to rows matching the JSON export's records."""
    xml = eio.read_xml(spark, f"{FIXTURES}/eprints.xml", row_tag="eprint")
    rows = {r["eprintid"]: r for r in xml.collect()}
    assert set(rows) == {101, 102}
    assert rows[101]["title"] == "A  Study of   Metadata Migration"
    # nested repeated <item> children arrive as arrays, order intact
    assert list(rows[101]["subjects"]["item"]) == ["H5", "QA76"]
    assert [c["family"] for c in rows[101]["creators"]["item"]] == [
        "Zeta",
        "Alpha",
    ]


def test_x06_partitioned_parquet_sink(spark, sf_dir, tmp_path):
    out = str(tmp_path / "part_orders")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    eio.write_partitioned_parquet(orders, out, ["order_year"])
    # directory keys exist and partition pruning sees only one year
    years = sorted(
        int(p.split("=")[1])
        for p in os.listdir(out)
        if p.startswith("order_year=")
    )
    assert len(years) >= 3
    one_year = spark.read.parquet(out).filter(F.col("order_year") == years[0])
    assert 0 < one_year.count() < orders.count()
    # the year filter is partition pruning, not a data filter
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_year.explain()
    assert "PartitionFilters: [isnotnull(order_year" in buf.getvalue()


def test_x04_jdbc_reader_is_configured(spark):
    """Option-plumbing check: a bogus driver string must surface as the
    driver failure, proving the wrapper wired url/driver through."""
    with pytest.raises(Exception) as exc_info:
        eio.read_jdbc(
            spark,
            "jdbc:mysql://localhost:1/none",
            "eprints",
            partition_column="eprintid",
            lower_bound=0,
            upper_bound=100_000,
            properties={"driver": "org.example.NoDriver"},
        )
    # failure must be the missing driver/endpoint, not our option plumbing
    assert "NoDriver" in str(exc_info.value) or "No suitable driver" in str(
        exc_info.value
    )
    # Partitioned reads demand REAL bounds: the old silent 0..2^31
    # default made the stride so wide that the whole table read through
    # one task.
    with pytest.raises(ValueError, match="explicit"):
        eio.read_jdbc(
            spark,
            "jdbc:mysql://localhost:1/none",
            "eprints",
            partition_column="eprintid",
        )


def test_x04_jdbc_roundtrip_derby(spark, sf_dir, tmp_path):
    """X04 full integration (r4 verdict item 7): Spark ships embedded
    Apache Derby on its own classpath, so the JDBC source/sink is
    round-trippable in-container with zero network: write orders into a
    Derby table, read it back as a PARTITIONED parallel scan (4 bounded
    o_orderkey ranges -> 4 concurrent connections), and confirm the
    predicate is pushed into the database scan instead of filtering in
    Spark."""
    import contextlib
    import io as _io

    # keep derby.log out of the repo root (read at Derby boot, i.e.
    # first connection of this JVM)
    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/eprints_db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    eio.write_jdbc(orders, url, "orders_jdbc", properties=props)

    hi = orders.agg(F.max("o_orderkey")).collect()[0][0]
    back = eio.read_jdbc(
        spark,
        url,
        "orders_jdbc",
        partition_column="o_orderkey",
        num_partitions=4,
        lower_bound=0,
        upper_bound=int(hi) + 1,
        properties=props,
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == orders.count()
    a = sorted(r["o_orderkey"] for r in orders.collect())
    b = sorted(r["o_orderkey"] for r in back.collect())
    assert a == b

    filtered = back.filter(F.col("o_totalprice") > 100000.0)
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain()
    plan = buf.getvalue()
    assert "JDBCRelation" in plan, plan
    assert "GreaterThan(o_totalprice" in plan, plan
    assert filtered.count() == orders.filter(
        F.col("o_totalprice") > 100000.0
    ).count()


def test_x01b_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path):
    """ORC sink/source round-trips exactly, and a filtered re-read pushes
    the predicate into the ORC scan (stripe-skipping at scale)."""
    out = str(tmp_path / "orders_orc")
    orders = load_table(spark, sf_dir, "orders")
    eio.write_orc(orders, out)
    back = eio.read_orc(spark, out, schema=orders.schema)
    assert back.count() == orders.count()
    a = sorted(map(tuple, orders.select("o_orderkey", "o_totalprice").collect()))
    b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
    assert a == b
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.filter(F.col("o_orderstatus") == "O").select(
            "o_orderkey"
        ).explain("formatted")
    p = buf.getvalue()
    assert "PushedFilters" in p and "o_orderstatus" in p.split("PushedFilters")[1].splitlines()[0], p


def test_events_ntz_layout_pins_utc_instant_any_session_tz(spark, tmp_path):
    """load_table's TIMESTAMP_NTZ branch must yield the same absolute
    instant regardless of spark.sql.session.timeZone (advice r15): the
    r14 form ``to_utc_timestamp(ts, 'UTC')`` was an identity over the
    implicit NTZ -> session-zone cast, so an externally built non-UTC
    session shifted every event by the session offset with no error.
    Regression arm: write an NTZ events fixture, read it under a
    non-UTC session zone, and pin the collected epoch."""
    ntz_dir = str(tmp_path / "sf_ntz")
    os.makedirs(ntz_dir)
    # Three probe instants: plain noon (catches the to_utc_timestamp
    # identity), a sub-second value (make_timestamp must carry the
    # fractional SECOND), and 2024-11-03 06:30Z — whose America/New_York
    # wall-clock 01:30 falls in the DST fall-back REPEATED hour, where
    # any pin that round-trips through a session-zone rendering (the
    # first r15 fix attempt, convert_timezone + to_timestamp) resolves
    # the ambiguity with the earlier offset and lands an hour off
    # (code-review r15, confirmed by execution).
    spark.sql(
        "SELECT * FROM VALUES "
        "  (1L, TIMESTAMP_NTZ '2024-06-01 12:00:00'), "
        "  (2L, TIMESTAMP_NTZ '2024-11-03 06:30:00'), "
        "  (3L, TIMESTAMP_NTZ '2024-06-01 12:00:00.123456') "
        "AS t(event_id, ts)"
    ).write.parquet(f"{ntz_dir}/events.parquet")

    want = {
        1: 1717243200_000000,  # 2024-06-01T12:00:00Z
        2: 1730615400_000000,  # 2024-11-03T06:30:00Z (ambiguous in NY)
        3: 1717243200_123456,
    }
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            ev = load_table(spark, ntz_dir, "events")
            assert ev.schema["ts"].dataType.typeName() == "timestamp", tz
            got = {
                r["event_id"]: r["us"]
                for r in ev.select(
                    "event_id", F.unix_micros("ts").alias("us")
                ).collect()
            }
            assert got == want, (
                f"session tz {tz}: NTZ wall-clocks landed on {got}, "
                f"expected {want} — the pin is not session-zone "
                f"independent (or drops sub-second precision)"
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_read_json_sniffs_jsonl_vs_array(spark, tmp_path):
    """code-review r15 (verified): multiLine=true over JSON-Lines parses
    ONE object per file and silently discards the rest — a 1M-record
    JSONL export becomes 1 row with no error. The facade now sniffs the
    shape when multi_line is not passed."""
    jl = tmp_path / "recs.jsonl"
    jl.write_text("\n".join('{"a": %d}' % i for i in range(5)))
    arr = tmp_path / "recs.json"
    arr.write_text("[\n" + ",\n".join('{"a": %d}' % i for i in range(5)) + "\n]")
    assert eio.read_json(spark, str(jl), "a int").count() == 5
    assert eio.read_json(spark, str(arr), "a int").count() == 5
    # explicit flag still honored (the old silent-collapse shape)
    assert eio.read_json(spark, str(jl), "a int", multi_line=True).count() == 1


def test_read_json_sniff_refuses_non_utf8(spark, tmp_path):
    """The sniff's probe decodes UTF-8 only (the text source has no
    encoding option) — over a UTF-16 JSONL file the probe is mojibake
    and the sniff would silently pick multiLine=True, the exact
    one-row-collapse the sniff exists to prevent. Loud instead; the
    explicit flag keeps working for non-UTF-8 input."""
    import pytest

    u16 = tmp_path / "recs_u16.jsonl"
    u16.write_bytes(
        "\n".join('{"a": %d}' % i for i in range(5)).encode("utf-16")
    )
    with pytest.raises(ValueError, match="multi_line explicitly"):
        eio.read_json(spark, str(u16), "a int", encoding="UTF-16")
    # the explicit flag keeps working for non-UTF-8 input (multiLine —
    # Spark itself blacklists BOM'd UTF-16 for line-split JSONL reads)
    arr16 = tmp_path / "recs_u16.json"
    arr16.write_bytes(
        ("[" + ",".join('{"a": %d}' % i for i in range(5)) + "]").encode(
            "utf-16"
        )
    )
    got = eio.read_json(
        spark, str(arr16), "a int", multi_line=True, encoding="UTF-16"
    )
    assert got.count() == 5
    # case/hyphen variants of UTF-8 still sniff
    jl = tmp_path / "recs8.jsonl"
    jl.write_text('{"a": 1}\n{"a": 2}')
    assert eio.read_json(spark, str(jl), "a int", encoding="utf-8").count() == 2


def test_read_csv_corrupt_record_col_actually_captures(spark, tmp_path):
    """code-review r15 (verified): Spark honors columnNameOfCorruptRecord
    ONLY when the column exists in the schema — without the facade
    appending it, the option was a silent no-op and corrupt production
    rows null-filled with a zero-corruption audit."""
    p = tmp_path / "rows.csv"
    p.write_text("a,b\n1,2\nnot_an_int,3\n")
    df = eio.read_csv(
        spark, str(p), "a int, b int",
        multi_line=False, corrupt_record_col="_corrupt",
    )
    rows = df.collect()
    assert "_corrupt" in df.columns
    bad = [r for r in rows if r["_corrupt"] is not None]
    assert len(bad) == 1 and "not_an_int" in bad[0]["_corrupt"]


def test_partition_keys_round_trip_as_strings(spark, tmp_path):
    """code-review r15 (verified): partition-column type inference
    mangles string keys on read-back ('05' -> int 5, leading zero
    destroyed; joins against the original column silently miss). The
    session pins inference OFF, so keys come back as the strings the
    directory names carry."""
    out = str(tmp_path / "byland")
    df = spark.createDataFrame([("05", 1), ("fr", 2)], "lang string, v int")
    eio.write_partitioned_parquet(df, out, ["lang"])
    back = spark.read.parquet(out)
    assert dict(back.dtypes)["lang"] == "string"
    assert {r["lang"] for r in back.select("lang").collect()} == {"05", "fr"}


def test_keyword_and_file_edges(spark, subject_map_df):
    """code-review r15 (verified): trailing/double delimiters produced
    empty keyword terms ('k1|k2|'), and a null documents.main silently
    vanished from the file column with no audit surface."""
    rows = [
        {
            "eprintid": 9001,
            "title": "T",
            "type": "article",
            "date": "2020",
            "creators": [{"family": "F", "given": "G"}],
            "subjects": ["QA75"],
            "keywords": "k1; k2;; ",
            "abstract": "a",
            "official_url": None,
            "documents": [
                {"main": None, "format": "x"},
                {"main": "b.pdf", "format": "application/pdf"},
            ],
        }
    ]
    import json as _json

    df = eio.read_json(
        spark,
        _write_tmp_json(rows),
        schema=etl.EPRINTS_SCHEMA,
    )
    out = etl.eprints_to_bulkrax(df, subject_map_df).collect()[0]
    assert out["keyword"] == "k1|k2"
    assert out["file"] == "b.pdf"
    rep = etl.null_main_documents(df).collect()
    assert [(r["eprintid"], r["pos"]) for r in rep] == [(9001, 0)]


def _write_tmp_json(rows):
    import json as _json
    import tempfile

    f = tempfile.NamedTemporaryFile(
        "w", suffix=".json", delete=False, dir=tempfile.gettempdir()
    )
    _json.dump(rows, f)
    f.close()
    return f.name
