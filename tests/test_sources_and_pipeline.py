"""Source-layer tests: JSON repair, natural-order watermark
discovery, incremental pipeline idempotency, schema evolution."""

from __future__ import annotations

import datetime
import gc
import hashlib
import json
import os
import re

import pytest
from pyspark import StorageLevel
from pyspark.sql import types as T

from kissmetrics_to_database_spark import pipeline
from kissmetrics_to_database_spark.functions import events_transform
from kissmetrics_to_database_spark.operators import schema_evolution as se
from kissmetrics_to_database_spark.sources import json_repair, ndjson
from kissmetrics_to_database_spark.sources.json_repair import read_ndjson_with_repair


def test_natural_key_ordering():
    names = ["10.json", "2.json", "1.json", "100.json"]
    assert sorted(names, key=ndjson.natural_key) == [
        "1.json", "2.json", "10.json", "100.json",
    ]


def test_discover_files_hidden_and_watermark(tmp_path):
    for n in ["1.json", "2.json", "10.json", ".hidden"]:
        (tmp_path / n).write_text("{}")
    got = [f.split("/")[-1] for f in ndjson.discover_files(tmp_path)]
    assert got == ["1.json", "2.json", "10.json"]
    got = [
        f.split("/")[-1] for f in ndjson.discover_files(tmp_path, after="2.json")
    ]
    assert got == ["10.json"]  # natural: 10 > 2 even though '10' < '2' lexically


def test_watermark_roundtrip(tmp_path):
    wm = ndjson.Watermark(tmp_path / "wm.json")
    assert wm.read() is None
    wm.advance("/data/5.json")
    assert wm.read() == "5.json"
    wm.rollback("2.json")
    assert wm.read() == "2.json"
    wm.rollback(None)
    assert wm.read() is None


def test_watermark_write_is_fsynced(tmp_path, monkeypatch):
    # an advance that reaches disk only by rename can come back empty
    # or stale after an OS crash; the file and its directory must be
    # fsynced, the file before the rename and the directory after it
    synced = []
    real_fsync = os.fsync

    def spy(fd):
        synced.append(os.fstat(fd).st_ino)
        real_fsync(fd)

    monkeypatch.setattr(os, "fsync", spy)
    path = tmp_path / "state" / "watermark.json"
    wm = ndjson.Watermark(path)
    wm.advance("/data/7.json")
    wm.rollback("3.json")
    assert wm.read() == "3.json"
    assert path.stat().st_ino in synced
    assert path.parent.stat().st_ino in synced
    assert len(synced) == 4  # file and directory, per write


def test_read_ndjson_incremental(spark, tmp_path):
    import json as _json

    d = tmp_path / "ndj"
    d.mkdir()
    (d / "1.json").write_text(_json.dumps({"a": "x"}))
    (d / "2.json").write_text(_json.dumps({"a": "y"}))
    wm = ndjson.Watermark(tmp_path / "wm.json")
    wm.advance("1.json")

    df, files = ndjson.read_ndjson_incremental(spark, d, wm)
    assert [f.split("/")[-1] for f in files] == ["2.json"]
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["a"] == "y"
    assert rows[0]["_source_file"].endswith("2.json")

    wm.advance(files[-1])
    df2, files2 = ndjson.read_ndjson_incremental(spark, d, wm)
    assert df2 is None and files2 == []


def test_json_repair_all_null_row_is_not_quarantined(spark):
    # {} and {"a": null} parse fine — "all fields NULL" must not be
    # conflated with "unparseable"
    lines = ['{"a": null, "b": null}', "{}", "garbage"]
    df = spark.createDataFrame([(x,) for x in lines], ["value"])
    batch = read_ndjson_with_repair(spark, df)
    assert batch.good.columns == ["a", "b", "was_repaired"]
    assert batch.good.count() == 2
    assert batch.quarantined.count() == 1
    assert (batch.n_committed, batch.n_repaired, batch.n_quarantined) == (2, 0, 1)
    batch.unpersist()


def test_json_repair_layers(spark):
    lines = [
        '{"a": "clean", "b": "1"}',                 # clean
        '{"a": "has "inner" quotes", "b": "2"}',    # repairable
        "this is not json at all",                  # quarantined
        "",                                          # blank: dropped
    ]
    df = spark.createDataFrame([(x,) for x in lines], ["value"])
    batch = read_ndjson_with_repair(spark, df)
    rows = {r["b"]: (r["a"], r["was_repaired"]) for r in batch.good.collect()}
    assert rows["1"] == ("clean", False)
    assert rows["2"] == ('has "inner" quotes', True)
    assert batch.quarantined.count() == 1
    assert (batch.n_committed, batch.n_repaired, batch.n_quarantined) == (2, 1, 1)
    batch.unpersist()


def _lines(spark, lines):
    return spark.createDataFrame([(x,) for x in lines], ["value"])


def test_json_repair_one_object_per_line(spark):
    lines = [
        '{"a": "1", "a": "2"}',  # duplicate key: the last value wins
        "[1,2]",  # valid JSON, but not an object: quarantined
        "{}",  # an object with no keys: committed
        '{"b": 1.5, "c": true, "d": {"x": [1, 2]}}',
    ]
    batch = read_ndjson_with_repair(spark, _lines(spark, lines))
    assert (batch.n_committed, batch.n_repaired, batch.n_quarantined) == (3, 0, 1)
    assert batch.good.columns == ["a", "b", "c", "d", "was_repaired"]
    assert all(f.dataType == T.StringType() for f in batch.good.schema.fields[:-1])
    got = {tuple(r)[:4] for r in batch.good.collect()}
    assert got == {
        ("2", None, None, None),
        (None, None, None, None),
        (None, "1.5", "true", '{"x":[1,2]}'),
    }
    assert [r["value"] for r in batch.quarantined.collect()] == ["[1,2]"]
    batch.unpersist()


@pytest.mark.parametrize(
    "lines,counts",
    [([], (0, 0, 0)), (["", "   "], (0, 0, 0)), (["garbage"], (0, 0, 1))],
    ids=["empty", "blank-only", "all-garbage"],
)
def test_json_repair_with_no_committed_line(spark, lines, counts):
    # the observed stats of an input with no line to commit
    lines = spark.createDataFrame([(x,) for x in lines], "value string")
    batch = read_ndjson_with_repair(spark, lines)
    assert (batch.n_committed, batch.n_repaired, batch.n_quarantined) == counts
    assert batch.good.columns == ["was_repaired"]
    assert (batch.good.count(), batch.quarantined.count()) == (0, counts[2])
    batch.unpersist()


def test_json_repair_parses_each_line_once(spark):
    """The plan behind the committed rows: exactly one ``from_json``
    over the raw line, and the repair regex only inside the
    ``coalesce`` that runs when that parse is NULL."""
    batch = read_ndjson_with_repair(spark, _lines(spark, ['{"a": "b"}']))
    physical = batch.good._jdf.queryExecution().executedPlan().toString()
    batch.unpersist()
    assert "InMemoryRelation" in physical
    raw_parses = re.findall(r"from_json\(\S+, value#\d+,", physical)
    assert len(raw_parses) == 1, physical
    assert physical.count("regexp_replace(") == 1, physical
    assert re.search(
        r"coalesce\(_first#\d+, from_json\(\S+, regexp_replace\(value#\d+", physical
    ), physical
    assert "Filter (length(trim(value" in physical
    assert physical.count("from_json(") == 2, physical


def test_incremental_pipeline_idempotent(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    rows1 = [
        {"_p": "u1", "_p2": "a1", "_n": "signup", "_t": "1704067207"},
        {"_p": "u2", "_n": "", "_t": "1704067300", "some-prop": "x"},
    ]
    rows2 = [{"_p": "u3", "_p2": "a1", "_n": "click", "_t": "1704067400"}]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows1))

    state, lake = tmp_path / "state", tmp_path / "lake"
    res1 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res1.n_rows == 2 and res1.n_quarantined == 0
    assert res1.n_identity_members == 2  # u1—a1
    assert (res1.n_identity_edges, res1.identity_path) == (1, "arrow")

    # idempotent rerun: no new files → nothing happens
    res2 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res2.n_rows == 0 and res2.files == []

    # new file arrives: only it is processed; identity closure now
    # spans files (u1—a1—u3)
    (src / "2.json").write_text("\n".join(json.dumps(r) for r in rows2))
    res3 = pipeline.run_incremental(
        spark, str(src), str(state), str(lake), fixed_date="2024-06-01"
    )
    assert res3.n_rows == 1
    assert [f.split("/")[-1] for f in res3.files] == ["2.json"]
    assert (res3.n_identity_members, res3.n_identity_edges) == (3, 1)
    assert res3.identity_path == "arrow"

    lake_events = pipeline.read_events_lake(spark, str(lake))
    assert lake_events.count() == 3
    assert "some_prop" in lake_events.columns  # sanitized dynamic key

    # identity closure MUST span runs: u1—a1 from file 1, u3—a1 from
    # file 2 ⇒ one component canonicalized to the global min 'a1'
    comp = {
        r["member"]: r["component_id"]
        for r in spark.read.parquet(str(lake / "identity_components")).collect()
    }
    assert comp == {"u1": "a1", "a1": "a1", "u3": "a1"}


def test_failed_identity_fold_keeps_the_old_map(spark, tmp_path, monkeypatch):
    # the fold's write fails after the new map is written beside the
    # old one, before it replaces it
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), tmp_path / "lake"
    comp_path = str(lake / "identity_components")
    alias = {"_n": "alias", "_t": "1704067207"}
    (src / "1.json").write_text(json.dumps({"_p": "u1", "_p2": "a1", **alias}))
    pipeline.run_incremental(spark, str(src), state, str(lake), fixed_date="2024-06-01")
    (src / "2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [{"_p": "u3", "_p2": "a1", **alias}, {"_p": "u4", "_p2": "b1", **alias}]
        )
    )

    replace = os.replace

    def failing_replace(src_path, dst_path, *args, **kwargs):
        if "identity_components" in str(dst_path):
            raise OSError("injected fold failure")
        return replace(src_path, dst_path, *args, **kwargs)

    monkeypatch.setattr(os, "replace", failing_replace)
    with pytest.raises(OSError, match="injected fold failure"):
        pipeline.run_incremental(spark, str(src), state, str(lake), fixed_date="2024-06-01")
    monkeypatch.undo()

    assert ndjson.Watermark(tmp_path / "state" / "watermark.json").read() == "1.json"
    old = {r["member"]: r["component_id"] for r in spark.read.parquet(comp_path).collect()}
    assert old == {"u1": "a1", "a1": "a1"}

    # The rerun folds batch 2 again and ends at the union-find closure
    # of all three alias edges. It also appends batch 2's events to the
    # lake a second time: the append is not yet part of one commit with
    # the map and the watermark (ROADMAP item 2), so the lake is not
    # checked here.
    res = pipeline.run_incremental(spark, str(src), state, str(lake), fixed_date="2024-06-01")
    assert [f.split("/")[-1] for f in res.files] == ["2.json"]
    comp = {r["member"]: r["component_id"] for r in spark.read.parquet(comp_path).collect()}
    assert comp == {"u1": "a1", "a1": "a1", "u3": "a1", "u4": "b1", "b1": "b1"}


def test_warm_ingest_batch_compiles_no_class(spark, tmp_path, compiles):
    # a batch with the key shape of the one before it reuses every
    # class generated for that one: no plan of a batch carries a value
    # that changes from batch to batch into generated code
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), str(tmp_path / "lake")
    email = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}
    for i in (1, 2):
        rows = [
            {"_p": f"u{i}", "_p2": f"a{i}", "_n": "signup", "_t": str(1704067200 + i)},
            {"_p": f"v{i}", "_t": str(1704067300 + i), **email},
        ]
        (src / f"{i}.json").write_text("\n".join(json.dumps(r) for r in rows))
        before = compiles()
        res = pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
        assert res.identity_path == "arrow"
    assert res.n_identity_edges == 3
    assert compiles() == before


def test_warm_ingest_batch_runs_two_spark_jobs(spark, tmp_path):
    # the noop write that fills the parse cache and observes the batch
    # stats, and the lake append that observes the alias edges
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), str(tmp_path / "lake")
    email = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}
    sc = spark.sparkContext
    groups = [f"ingest-{tmp_path.name}-{i}" for i in (1, 2)]
    for i, group in enumerate(groups, 1):
        rows = [
            {"_p": f"u{i}", "_p2": f"a{i}", "_n": "signup", "_t": str(1704067200 + i)},
            {"_p": f"v{i}", "_t": str(1704067300 + i), **email},
        ]
        (src / f"{i}.json").write_text("\n".join(json.dumps(r) for r in rows))
        sc.setJobGroup(group, "ingest")
        try:
            res = pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert (res.n_rows, res.n_identity_edges, res.identity_path) == (2, 3, "arrow")
    spark._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(groups[1])) == 2
    comp = dict(spark.read.parquet(f"{lake}/identity_components").collect())
    assert comp == {
        "u1": "a1", "a1": "a1", "v1": "n@e.com", "n@e.com": "n@e.com", "o@e.com": "n@e.com",
        "u2": "a2", "a2": "a2", "v2": "n@e.com",
    }


def test_warm_ingest_batch_makes_few_py4j_round_trips(spark, tmp_path, round_trips):
    # Each Column call is a py4j round trip, and about ten more when
    # PySpark's DataFrame debugging records its call site. This warm
    # batch (16 keys) made about 3,000 round trips with per-column
    # Column projections and the debugging on; with the debugging off
    # and the projections built as SQL text, 170-290 (the deletes of
    # collected proxies vary with Python's GC).
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), str(tmp_path / "lake")
    email = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}
    props = {f"prop-{k}": str(k) for k in range(10)}
    for i in (1, 2):
        rows = [
            {"_p": f"u{i}", "_p2": f"a{i}", "_n": "signup", "_t": str(1704067200 + i), **props},
            {"_p": f"v{i}", "_t": str(1704067300 + i), **email},
        ]
        (src / f"{i}.json").write_text("\n".join(json.dumps(r) for r in rows))
        gc.collect()
        before = round_trips()
        res = pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
    sent = round_trips() - before
    assert (res.n_rows, res.n_identity_edges) == (2, 3)
    assert sent < 600, sent


def test_property_keys_with_dots_backticks_and_quotes_land_as_columns(spark, tmp_path):
    # every key is a name, never SQL: a dot is not a field access and
    # a backtick does not end the quoted name
    keys = ["a.b", "a`b", "it's", "back\\slash", "ünï", "a:b"]
    row = {"_p": "x", "_n": "e", "_t": 1, **{k: f"v{i}" for i, k in enumerate(keys)}}
    src = tmp_path / "src"
    src.mkdir()
    (src / "1.json").write_text(json.dumps(row, ensure_ascii=False))
    lake = str(tmp_path / "lake")
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), lake, fixed_date="2024-06-01"
    )
    assert res.n_rows == 1
    events = pipeline.read_events_lake(spark, lake)
    got = events.collect()[0].asDict()
    assert {k: got[k] for k in keys} == {k: f"v{i}" for i, k in enumerate(keys)}
    assert got["_t"] == "1970-01-01 00:00:01"
    values = [got[c] for c in events.columns if c not in ("md5hash", "created_at")]
    assert len(values) == len(keys) + 4  # and _p, _n, _t, _n_not_null
    assert got["md5hash"] == hashlib.md5("".join(values).encode()).hexdigest()


def test_keys_of_one_lake_column_land_in_one_column(spark, tmp_path):
    # Spark resolves names without case, like the reference's MySQL
    # columns, so keys equal after sanitizing and without case are one
    # column: the first key in sorted order names it, and each row's
    # value is the first non-NULL of the keys in that order
    rows = [
        {"_p": "x", "_n": "e", "_t": 1, "A": "1", "a": "2", "a-b": "3", "A_B": "4"},
        {"_p": "y", "_n": "e", "_t": 2, "a": "5", "a_b": "6"},
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    lake = str(tmp_path / "lake")
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), lake, fixed_date="2024-06-01"
    )
    assert res.n_rows == 2
    events = pipeline.read_events_lake(spark, lake)
    assert [c for c in events.columns if c.lower() in ("a", "a_b")] == ["A", "A_B"]
    got = {r["_p"]: (r["A"], r["A_B"]) for r in events.collect()}
    assert got == {"x": ("1", "4"), "y": ("5", "6")}


def test_keys_named_like_derived_columns_keep_their_values(spark, tmp_path):
    # the transform derives created_at, md5hash and _n_not_null for
    # every row: a key that names one of them keeps its values in
    # prop_<that column>, and a prop_<that column> key joins it
    rows = [
        {"_p": "x", "_n": "e", "_t": 1, "created-at": "mine", "MD5hash": "h",
         "_n not null": "n"},
        {"_p": "y", "_n": "e", "_t": 2, "prop_created_at": "p"},
    ]
    src = tmp_path / "src"
    src.mkdir()
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    lake = str(tmp_path / "lake")
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), lake, fixed_date="2024-06-01"
    )
    assert res.n_rows == 2
    events = pipeline.read_events_lake(spark, lake)
    assert sorted(events.columns) == [
        "_n", "_n_not_null", "_p", "_t", "created_at", "md5hash",
        "prop__n_not_null", "prop_created_at", "prop_md5hash",
    ]
    got = {r["_p"]: r.asDict() for r in events.collect()}
    assert [
        (got[p]["prop_created_at"], got[p]["prop_md5hash"], got[p]["prop__n_not_null"])
        for p in ("x", "y")
    ] == [("mine", "h", "n"), ("p", None, None)]
    assert {(r["created_at"], r["_n_not_null"]) for r in got.values()} == {
        (datetime.date(2024, 6, 1), "e")
    }
    values = [got["x"][c] for c in events.columns if c not in ("md5hash", "created_at")]
    assert got["x"]["md5hash"] == hashlib.md5("".join(values).encode()).hexdigest()


def test_failed_transform_releases_the_parse_and_keeps_the_watermark(
    spark, tmp_path, monkeypatch
):
    # the persisted parse is released whatever step fails, or a later
    # read of the same path is answered with the old lines
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), str(tmp_path / "lake")
    path = src / "1.json"
    path.write_text(json.dumps({"_p": "u1", "_n": "old", "_t": "1"}))

    def failing_transform(*args, **kwargs):
        raise RuntimeError("injected transform failure")

    monkeypatch.setattr(events_transform, "transform_events", failing_transform)
    with pytest.raises(RuntimeError, match="injected transform failure"):
        pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
    monkeypatch.undo()

    assert ndjson.Watermark(tmp_path / "state" / "watermark.json").read() is None
    parse = json_repair._parse_lines(spark.read.text([str(path)]))
    assert parse.storageLevel == StorageLevel.NONE
    path.write_text(json.dumps({"_p": "u1", "_n": "new", "_t": "1", "k": "v"}))
    res = pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
    assert res.n_rows == 1
    got = pipeline.read_events_lake(spark, lake).collect()
    assert [(r["_n"], r["k"]) for r in got] == [("new", "v")]


@pytest.mark.parametrize(
    "room,observed,path",
    [(6, True, "arrow"), (5, False, "arrow"), (-1, False, "distributed")],
)
def test_ingest_observes_edges_only_within_the_map_room(
    spark, tmp_path, monkeypatch, room, observed, path
):
    # a batch of 2 rows may yield 2 * MAX_EDGES_PER_ROW = 6 edges: they
    # are observed on the append only when the map leaves room for 6;
    # otherwise the fold counts them first (3 fit a room of 5) or folds
    # in Spark (no room)
    from kissmetrics_to_database_spark.operators import identity

    src = tmp_path / "src"
    src.mkdir()
    email = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}
    rows = [{"_p": "u1", "_p2": "a1", "_n": "signup"}, {"_p": "v1", **email}]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    monkeypatch.setattr(identity, "map_room", lambda map_dir, local_threshold=0: room)
    from_frame = []
    alias_edges = identity.alias_edges_kissmetrics
    monkeypatch.setattr(
        identity, "alias_edges_kissmetrics", lambda df: from_frame.append(1) or alias_edges(df)
    )
    lake = tmp_path / "lake"
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), str(lake), fixed_date="2024-06-01"
    )
    assert (res.n_identity_edges, res.identity_path) == (3, path)
    assert from_frame == ([] if observed else [1])
    comp = dict(spark.read.parquet(str(lake / "identity_components")).collect())
    assert comp == {
        "u1": "a1", "a1": "a1", "v1": "n@e.com", "n@e.com": "n@e.com", "o@e.com": "n@e.com",
    }


@pytest.mark.parametrize("room,path", [(None, "arrow"), (-1, "distributed")])
def test_updated_email_without_p_adds_no_identity_edge(
    spark, tmp_path, monkeypatch, room, path
):
    # an "updated email" row with no _p would yield edges from NULL,
    # which join nothing: they are not counted as identity edges
    from kissmetrics_to_database_spark.operators import identity

    src = tmp_path / "src"
    src.mkdir()
    email = {"_n": "updated email", "new_email": "n@e.com", "previous_email": "o@e.com"}
    rows = [{"_p": "u1", "_p2": "a1", "_n": "signup"}, email]
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    if room is not None:
        monkeypatch.setattr(identity, "map_room", lambda map_dir, local_threshold=0: room)
    lake = tmp_path / "lake"
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), str(lake), fixed_date="2024-06-01"
    )
    assert (res.n_rows, res.n_identity_edges, res.identity_path) == (2, 1, path)
    assert res.n_identity_members == 2
    comp = dict(spark.read.parquet(str(lake / "identity_components")).collect())
    assert comp == {"u1": "a1", "a1": "a1"}


def test_pipeline_keeps_a_key_first_seen_on_the_last_line(spark, tmp_path):
    # past the 10,000-line sample the schema used to be inferred from
    src = tmp_path / "src"
    src.mkdir()
    rows = [{"_p": f"u{i}", "_n": "view", "_t": str(1704067200 + i)} for i in range(10_050)]
    rows[-1]["late key"] = "x"
    (src / "1.json").write_text("\n".join(json.dumps(r) for r in rows))
    lake = tmp_path / "lake"
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), str(lake), fixed_date="2024-06-01"
    )
    assert res.n_rows == 10_050
    events = pipeline.read_events_lake(spark, str(lake))
    assert "late_key" in events.columns
    assert events.where("late_key = 'x'").count() == 1


def test_pipeline_key_changing_json_type_across_batches(spark, tmp_path):
    # lake columns are strings, so a number in one batch and a string
    # in the next still merge on read
    src = tmp_path / "src"
    src.mkdir()
    state, lake = str(tmp_path / "state"), str(tmp_path / "lake")
    (src / "1.json").write_text(json.dumps({"_p": "u1", "_n": "a", "_t": 1704067200, "x": 1}))
    pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
    (src / "2.json").write_text(json.dumps({"_p": "u2", "_n": "b", "_t": 1704067300, "x": "abc"}))
    pipeline.run_incremental(spark, str(src), state, lake, fixed_date="2024-06-01")
    events = pipeline.read_events_lake(spark, lake)
    assert events.count() == 2
    assert sorted(r["x"] for r in events.select("x").collect()) == ["1", "abc"]


def test_pipeline_appends_to_a_lake_with_typed_dynamic_columns(spark, tmp_path):
    # a lake file from before dynamic columns were strings keeps the
    # JSON-inferred types; it must still read next to a new batch
    lake = tmp_path / "lake"
    spark.createDataFrame(
        [("u1", "a", 1, 1.5, (2,))], "_p string, _n string, x long, price double, d struct<k:long>"
    ).write.parquet(str(lake / "events"))
    src = tmp_path / "src"
    src.mkdir()
    row = {"_p": "u2", "_n": "b", "_t": 1704067300, "x": "abc", "price": 2, "d": {"k": 3}}
    (src / "1.json").write_text(json.dumps(row))
    pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), str(lake), fixed_date="2024-06-01"
    )
    events = pipeline.read_events_lake(spark, str(lake))
    assert events.count() == 2
    got = sorted(tuple(r) for r in events.select("_p", "x", "price", "d").collect())
    assert got == [("u1", "1", "1.5", '{"k":2}'), ("u2", "abc", "2", '{"k":3}')]


def test_pipeline_dedup_reports_rows_after_dedup(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    row = json.dumps({"_p": "u1", "_n": "view", "_t": "1704067200"})
    other = json.dumps({"_p": "u2", "_n": "view", "_t": "1704067200"})
    (src / "1.json").write_text("\n".join([row, row, other]))
    lake = str(tmp_path / "lake")
    res = pipeline.run_incremental(
        spark, str(src), str(tmp_path / "state"), lake,
        fixed_date="2024-06-01", dedup_on_fingerprint=True,
    )
    assert res.n_rows == 2
    assert pipeline.read_events_lake(spark, lake).count() == 2


def test_union_evolving_and_align(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2, "y")], ["id", "b"])
    u = se.union_evolving([a, b])
    assert set(u.columns) == {"id", "a", "b"}
    assert u.count() == 2
    target = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("c", T.StringType()),
        ]
    )
    aligned = se.align_to_schema(b, target)
    assert aligned.columns == ["id", "a", "c"]
    assert aligned.collect()[0].asDict() == {"id": 2, "a": None, "c": None}


def test_max_lengths_and_ddl(spark):
    df = spark.createDataFrame([("abc", 12345)], ["s", "n"])
    lens = se.max_lengths(df)
    assert lens == {"s": 3, "n": 5}
    stmts = se.ddl_add_columns("tb_event", ["s", "n"], lens)
    assert stmts[0] == 'ALTER TABLE tb_event ADD COLUMN "s" VARCHAR(16)'
    assert 'ALTER TABLE tb_event ADD COLUMN "n" VARCHAR(16)' in stmts[1]
    assert se.new_columns(df, ["s"]) == ["n"]
