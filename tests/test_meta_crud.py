"""Write-path CRUD tests: annotations, UIDMeta/TSMeta, tree rules.

Fixtures mirror the reference's TestAnnotation (test/meta/TestAnnotation.java
note/description edits, global vs tsuid) and TestTreeRule / TestTreeBuilder
(regex extraction, ordered rules, strict match).
"""

import pytest
from pyspark.sql import functions as F

from opentsdb_spark.operators.annotations import (
    annotations_in_range, bulk_delete_annotations, delete_annotation,
    upsert_annotation,
)
from opentsdb_spark.operators.tree import TreeRule, build_tree, tree_branch, tree_branches
from opentsdb_spark.operators.uid import (
    tsmeta_delete, tsmeta_frame, tsmeta_upsert, uidmeta_delete, uidmeta_upsert,
)
from tests.conftest import EPOCH

MS = EPOCH * 1000


@pytest.fixture()
def ann(spark):
    from opentsdb_spark.operators.annotations import ANNOTATION_SCHEMA

    rows = [
        ("sys.cpu.user{host=web01}", MS, MS + 60_000, "maintenance", None, None),
        (None, MS + 5_000, None, "global note", None, None),
    ]
    df = spark.createDataFrame(
        [(t, s, e, d, n, c) for t, s, e, d, n, c in rows],
        "tsuid string, s long, e long, description string, notes string, "
        "custom map<string,string>",
    ).select(
        "tsuid", F.timestamp_millis("s").alias("start_time"),
        F.timestamp_millis("e").alias("end_time"), "description", "notes", "custom",
    )
    assert df.schema.fieldNames() == ANNOTATION_SCHEMA.fieldNames()
    return df


def test_annotation_create_merge_replace(ann):
    # create a new annotation
    out = upsert_annotation(ann, "m{h=a}", MS + 10_000, description="new")
    assert out.count() == 3
    # POST-style merge: only provided fields overwrite
    out2 = upsert_annotation(out, "sys.cpu.user{host=web01}", MS, notes="added note")
    row = out2.where(F.col("tsuid") == "sys.cpu.user{host=web01}").collect()[0]
    assert row["description"] == "maintenance" and row["notes"] == "added note"
    assert row["end_time"] is not None
    # PUT-style replace: unspecified fields reset
    out3 = upsert_annotation(
        out2, "sys.cpu.user{host=web01}", MS, description="replaced", replace=True
    )
    row = out3.where(F.col("tsuid") == "sys.cpu.user{host=web01}").collect()[0]
    assert row["description"] == "replaced" and row["notes"] is None
    assert out3.count() == 3


def test_annotation_delete_and_bulk(ann):
    assert delete_annotation(ann, None, MS + 5_000).count() == 1
    # bulk: global-only in range
    kept = bulk_delete_annotations(ann, MS, MS + 10_000, global_=True)
    assert [r["tsuid"] for r in kept.collect()] == ["sys.cpu.user{host=web01}"]
    # bulk: tsuid list, range misses -> no-op
    assert bulk_delete_annotations(
        ann, MS + 100_000, MS + 200_000, tsuids=("sys.cpu.user{host=web01}",)
    ).count() == 2
    # query path still sees what remains (tsuid-scoped; globals were deleted)
    got = annotations_in_range(
        kept, MS, MS + 120_000, tsuids=("sys.cpu.user{host=web01}",)
    )
    assert got.count() == 1


def test_uidmeta_upsert_delete(spark):
    m = uidmeta_upsert(None, "metrics", "sys.cpu.user",
                       description="cpu", spark=spark)
    m = uidmeta_upsert(m, "tagk", "host", description="hostname")
    m = uidmeta_upsert(m, "metrics", "sys.cpu.user", notes="hot path")
    rows = {(r["kind"], r["name"]): r for r in m.collect()}
    assert len(rows) == 2
    r = rows[("metrics", "sys.cpu.user")]
    assert r["description"] == "cpu" and r["notes"] == "hot path"  # merged
    assert uidmeta_delete(m, "tagk", "host").count() == 1
    with pytest.raises(ValueError):
        uidmeta_upsert(None, "bogus", "x", spark=spark)


def test_tsmeta_frame_and_upsert(fixture_points, spark):
    derived = tsmeta_frame(fixture_points)
    assert derived.count() == 2  # web01 + web02 series
    r = derived.orderBy("tsuid").collect()[0]
    assert r["total_dps"] == 300 and r["created"] < r["last_received"]

    m = tsmeta_upsert(None, r["tsuid"], spark=spark,
                      description="test series", retention=30)
    m = tsmeta_upsert(m, r["tsuid"], units="pct")
    row = m.collect()[0]
    assert row["description"] == "test series" and row["units"] == "pct"
    assert row["retention"] == 30
    assert tsmeta_delete(m, r["tsuid"]).count() == 0
    with pytest.raises(ValueError):
        tsmeta_upsert(None, "x", spark=spark, bogus_field=1)


def test_tree_regex_rule_and_strict(fixture_points):
    # regex rule: extract the middle token of sys.cpu.user
    rules = (
        TreeRule("METRIC", regex=r"^(\w+)\.(\w+)\.", regex_group_idx=2),
        TreeRule("TAGK", field="dc"),
        TreeRule("TAGK", field="host"),
    )
    leaves = build_tree(fixture_points, rules)
    got = {tuple(r["path"]) for r in leaves.collect()}
    assert got == {("cpu", "lga", "web01"), ("cpu", "phx", "web02")}

    # a regex that never matches drops the level; strict_match drops the series
    rules_miss = (TreeRule("METRIC", regex=r"^(zzz)"), TreeRule("TAGK", field="host"))
    assert build_tree(fixture_points, rules_miss).collect()[0]["depth"] == 1
    assert build_tree(fixture_points, rules_miss, strict_match=True).count() == 0


def test_tree_display_format_and_branch(fixture_points):
    rules = (
        TreeRule("METRIC", separator="."),
        TreeRule("TAGK", field="host", display_format="host-{value}"),
    )
    leaves = build_tree(fixture_points, rules)
    got = sorted(tuple(r["path"]) for r in leaves.collect())
    assert got == [
        ("sys", "cpu", "user", "host-web01"),
        ("sys", "cpu", "user", "host-web02"),
    ]
    branches = {r["branch_path"]: r["leaf_count"] for r in tree_branches(leaves).collect()}
    assert branches["sys/cpu"] == 2

    b = tree_branch(leaves, ("sys", "cpu", "user"))
    assert [x["leaf"] for x in b["leaves"]] == ["host-web01", "host-web02"]
    assert b["branches"] == []
    root = tree_branch(leaves, ())
    assert root["branches"] == [{"branch": "sys", "leaf_count": 2}]


def test_histogram_codec_registry(spark):
    from opentsdb_spark.operators.histogram import (
        decode_histogram_points, get_histogram_codec, register_histogram_codec,
    )

    raw = spark.createDataFrame(
        [("lat", MS, 0, '{"b": {"0,10": 4, "10,20": 6}, "u": 1, "o": 2}', {"h": "a"})],
        "metric string, ts_ms long, codec_id int, raw string, tags map<string,string>",
    ).select("metric", F.timestamp_millis("ts_ms").alias("ts"), "codec_id", "raw", "tags")
    out = decode_histogram_points(raw).collect()[0]
    assert [(b["lower"], b["upper"], b["count"]) for b in out["buckets"]] == [
        (0.0, 10.0, 4), (10.0, 20.0, 6)]
    assert out["underflow"] == 1 and out["overflow"] == 2

    with pytest.raises(ValueError):
        get_histogram_codec(99)

    @register_histogram_codec(7)
    def _noop(raw_col):  # a second codec id routes separately
        from opentsdb_spark.operators.histogram import simple_histogram_json_codec
        return simple_histogram_json_codec(raw_col)

    try:
        assert get_histogram_codec(7) is _noop
        assert decode_histogram_points(raw).count() == 1  # codec 7 matched 0 rows
    finally:
        from opentsdb_spark.operators.histogram import HISTOGRAM_CODECS
        del HISTOGRAM_CODECS[7]


def test_search_plugin_surface(fixture_points, spark):
    from opentsdb_spark.operators.metadata import (
        SEARCH_PLUGINS, SearchPlugin, notify_search_plugins, register_search_plugin,
    )

    events = []

    class Recorder(SearchPlugin):
        def index_tsmeta(self, frame):
            events.append(("tsmeta", frame.count()))

        def execute_query(self, points, query):
            return points.where(F.col("metric") == query["metric"]).count()

    p = Recorder()
    register_search_plugin(p)
    try:
        notify_search_plugins("index_tsmeta", tsmeta_frame(fixture_points))
        assert events == [("tsmeta", 2)]
        assert p.execute_query(fixture_points, {"metric": "sys.cpu.user"}) == 600
    finally:
        SEARCH_PLUGINS.remove(p)


def test_uid_assign(spark):
    from opentsdb_spark.operators.uid import uid_assign

    resp, reg = uid_assign(None, {"metric": ["sys.cpu.user", "sys.cpu.sys"],
                                  "tagk": ["host"]}, spark=spark)
    assert set(resp["metric"]) == {"sys.cpu.user", "sys.cpu.sys"}
    assert all(len(u) == 6 and int(u, 16) >= 0 for u in resp["metric"].values())
    assert "metric_errors" not in resp
    # deterministic: same name -> same uid in a fresh registry
    resp2, _ = uid_assign(None, {"metric": ["sys.cpu.user"]}, spark=spark)
    assert resp2["metric"]["sys.cpu.user"] == resp["metric"]["sys.cpu.user"]
    # re-assigning an existing name errors with the stored uid in the message
    resp3, reg = uid_assign(reg, {"metric": ["sys.cpu.user", "new.metric"]})
    assert "new.metric" in resp3["metric"]
    msg = resp3["metric_errors"]["sys.cpu.user"]
    assert resp["metric"]["sys.cpu.user"] in msg and "already exists" in msg
    # same NAME under a different kind is independent
    resp4, reg = uid_assign(reg, {"tagv": ["sys.cpu.user"]})
    assert "sys.cpu.user" in resp4["tagv"]
    assert reg.count() == 5
    with pytest.raises(ValueError):
        uid_assign(reg, {})


def test_uid_filter_plugin_blocks_assignment(spark):
    """UniqueIdFilterPlugin analog: a registered (kind, name) -> bool gate
    routes denied names into <kind>_errors (UniqueIdFilterPlugin.java:89-100)."""
    from opentsdb_spark.operators import uid as uid_mod

    uid_mod.register_uid_filter(lambda kind, name: not name.startswith("tmp."))
    try:
        resp, reg = uid_mod.uid_assign(
            None, {"metric": ["prod.cpu", "tmp.scratch"]}, spark=spark
        )
        assert "prod.cpu" in resp["metric"]
        assert resp["metric_errors"]["tmp.scratch"] == "UID assignment denied by filter plugin"
        assert reg.count() == 1
    finally:
        uid_mod.UID_FILTERS.clear()


def test_ingest_filter_plugin_gates_points(spark):
    """WriteableDataPointFilterPlugin analog: registered Column predicates
    gate every point written (WriteableDataPointFilterPlugin.java:86-117)."""
    from pyspark.sql import functions as F

    from opentsdb_spark.streaming import ingest as ing

    pts = spark.createDataFrame(
        [("keep.me", 1000, 1.0, {"h": "a"}), ("drop.me", 1000, 2.0, {"h": "a"}),
         ("keep.me", 2000, -5.0, {"h": "a"})],
        "metric string, ts_ms long, value double, tags map<string,string>",
    ).select("metric", F.timestamp_millis("ts_ms").alias("ts"), "value",
             F.lit(None).cast("long").alias("value_long"), "tags")
    ing.register_ingest_filter(lambda df: ~F.col("metric").startswith("drop."))
    ing.register_ingest_filter(lambda df: F.col("value") >= 0)
    try:
        rows = ing.apply_ingest_filters(pts).collect()
        assert [(r["metric"], r["value"]) for r in rows] == [("keep.me", 1.0)]
    finally:
        ing.INGEST_FILTERS.clear()


def test_uid_assign_api_get_style(spark):
    from opentsdb_spark import api

    resp, reg = api.handle_uid_assign(
        None, {"metric": "m1,m2", "tagk": "host"}, spark=spark
    )
    assert set(resp["metric"]) == {"m1", "m2"} and "host" in resp["tagk"]
    assert reg.count() == 3


# ---- /api/search/<type> (built-in backend) ---------------------------------


def test_search_tsuids_and_tsmeta(spark, fixture_points):
    from opentsdb_spark.api import handle_search

    out = handle_search(fixture_points, {"type": "tsuids", "query": "web01"})
    assert out["totalResults"] == 1
    assert out["results"] == ["sys.cpu.user{dc=lga,host=web01}"]

    out = handle_search(fixture_points, {"type": "tsmeta", "query": "sys.cpu"})
    assert out["totalResults"] == 2
    assert all(r["total_dps"] == 300 for r in out["results"])
    assert out["results"][0]["tsuid"] < out["results"][1]["tsuid"]

    # paging: limit 1, startIndex 1 -> second series only
    out = handle_search(
        fixture_points, {"type": "tsmeta_summary", "limit": 1, "start_index": 1}
    )
    assert out["totalResults"] == 2 and len(out["results"]) == 1
    assert out["results"][0]["tags"] == {"host": "web02", "dc": "phx"}


def test_search_uidmeta_and_annotation(spark, fixture_points, ann):
    from opentsdb_spark.api import handle_search

    out = handle_search(fixture_points, {"type": "uidmeta", "query": "web"})
    kinds = {(r["type"], r["name"]) for r in out["results"]}
    assert kinds == {("TAGV", "web01"), ("TAGV", "web02")}

    out = handle_search(
        fixture_points, {"type": "annotation", "query": "maintenance"}, annotations=ann
    )
    assert out["totalResults"] == 1
    assert out["results"][0]["description"] == "maintenance"


def test_search_plugin_precedence(spark, fixture_points):
    from opentsdb_spark.api import handle_search
    from opentsdb_spark.operators.metadata import (
        SEARCH_PLUGINS, SearchPlugin, register_search_plugin,
    )

    class Plug(SearchPlugin):
        def execute_query(self, points, query):
            return points.select(F.lit("plugin").alias("who")).limit(1)

    register_search_plugin(Plug())
    try:
        out = handle_search(fixture_points, {"type": "tsmeta"})
        assert out["results"] == [{"who": "plugin"}]
    finally:
        SEARCH_PLUGINS.clear()


# ---- write-path endpoint adapters ------------------------------------------


def test_handle_put_details(spark):
    from opentsdb_spark.api import handle_put

    body = [
        {"metric": "sys.cpu.user", "timestamp": EPOCH, "value": "42.5",
         "tags": {"host": "web01"}},
        {"metric": "bad!name", "timestamp": EPOCH, "value": "1",
         "tags": {"host": "web01"}},
        {"metric": "sys.cpu.user", "timestamp": EPOCH, "value": "not-a-number",
         "tags": {"host": "web01"}},
        {"metric": "sys.cpu.user", "timestamp": EPOCH, "value": "2",
         "tags": {f"k{i}": "v" for i in range(9)}},
    ]
    resp, table = handle_put(spark, body, {"details": True})
    assert resp["success"] == 1 and resp["failed"] == 3
    assert len(resp["errors"]) == 3
    rows = table.to_pylist()
    assert len(rows) == 1 and rows[0]["value"] == 42.5


def test_handle_annotation_edit_roundtrip(spark, ann):
    from opentsdb_spark.api import handle_annotation_bulk_delete, handle_annotation_edit

    stored, out = handle_annotation_edit(
        ann, "POST",
        {"tsuid": "sys.cpu.user{host=web01}", "startTime": MS,
         "notes": "added-note"},
    )
    # POST merges: description survives, notes added
    assert stored["description"] == "maintenance" and stored["notes"] == "added-note"

    stored, out2 = handle_annotation_edit(
        out, "PUT",
        {"tsuid": "sys.cpu.user{host=web01}", "startTime": MS, "description": "replaced"},
    )
    assert stored["description"] == "replaced" and stored["notes"] is None

    none, out3 = handle_annotation_edit(
        out2, "DELETE", {"tsuid": "sys.cpu.user{host=web01}", "startTime": MS}
    )
    assert none is None and out3.count() == 1  # only the global one left

    resp, out4 = handle_annotation_bulk_delete(
        out2, {"startTime": MS, "endTime": MS + 10_000, "global": True}
    )
    assert resp["totalDeleted"] == 1


def test_handle_uidmeta_tsmeta_rename(spark, fixture_points):
    from opentsdb_spark.api import (
        handle_tsmeta_edit, handle_uid_rename, handle_uidmeta_edit,
    )

    stored, meta = handle_uidmeta_edit(
        None, "POST", {"type": "metric", "name": "sys.cpu.user",
                       "displayName": "CPU user"}, spark=spark,
    )
    assert stored["display_name"] == "CPU user" and stored["kind"] == "metrics"
    none, meta2 = handle_uidmeta_edit(meta, "DELETE",
                                      {"type": "metric", "name": "sys.cpu.user"})
    assert meta2.count() == 0

    stored, tsm = handle_tsmeta_edit(
        None, "POST", {"tsuid": "sys.cpu.user{host=web01}", "description": "d"},
        spark=spark,
    )
    assert stored["description"] == "d"

    renamed = handle_uid_rename(
        fixture_points, {"kind": "metric", "old": "sys.cpu.user", "name": "cpu.user"}
    )
    assert renamed.where(F.col("metric") == "cpu.user").count() == 600


def test_handle_tree_request(spark, fixture_points):
    from opentsdb_spark.api import handle_tree

    req = {"rules": [{"type": "TAGK", "field": "dc"},
                     {"type": "METRIC", "separator": "."}]}
    branches = handle_tree(fixture_points, req)
    paths = {b["branch_path"] for b in branches}
    assert "lga/sys/cpu/user" in paths and "phx/sys" in paths
    leaf = handle_tree(fixture_points, {**req, "branch": ["lga", "sys", "cpu"]})
    assert [r["leaf"] for r in leaf["leaves"]] == ["user"]


def test_frame_index_search_plugin(spark, fixture_points):
    """Live indexing through the plugin hooks: meta writes via the API
    handlers must fan out to registered plugins (reference TSDB.java calls
    indexTSMeta/indexAnnotation/... after each meta write), and /api/search
    must serve from the plugin's index when it covers the type."""
    from opentsdb_spark import api
    from opentsdb_spark.operators.metadata import (
        SEARCH_PLUGINS, FrameIndexSearchPlugin, register_search_plugin,
    )

    plugin = FrameIndexSearchPlugin()
    register_search_plugin(plugin)
    try:
        # uidmeta create -> indexed
        _, meta = api.handle_uidmeta_edit(
            None, "POST", {"type": "metric", "name": "sys.cpu.user",
                           "description": "cpu time"}, spark=spark)
        idx = plugin.indexes["uidmeta"].collect()
        assert [(r["kind"], r["name"]) for r in idx] == [("metrics", "sys.cpu.user")]
        # second edit replaces, not duplicates (newest wins)
        api.handle_uidmeta_edit(meta, "POST",
                                {"type": "metric", "name": "sys.cpu.user",
                                 "notes": "edited"}, spark=spark)
        idx = plugin.indexes["uidmeta"].collect()
        assert len(idx) == 1 and idx[0]["notes"] == "edited"
        # search served from the plugin index (substring over string fields)
        res = api.handle_search(fixture_points, {"type": "uidmeta", "query": "cpu"})
        assert res["totalResults"] == 1 and res["results"][0]["name"] == "sys.cpu.user"
        assert api.handle_search(
            fixture_points, {"type": "uidmeta", "query": "nomatch"})["totalResults"] == 0
        # delete hook empties the index
        api.handle_uidmeta_edit(meta, "DELETE",
                                {"type": "metric", "name": "sys.cpu.user"})
        assert plugin.indexes["uidmeta"].count() == 0
        # annotation index + delete
        from opentsdb_spark.operators.annotations import ANNOTATION_SCHEMA

        empty_ann = spark.createDataFrame([], ANNOTATION_SCHEMA)
        body = {"tsuid": "t1", "startTime": MS // 1000, "description": "note"}
        _, ann2 = api.handle_annotation_edit(empty_ann, "POST", body)
        assert plugin.indexes["annotation"].count() == 1
        api.handle_annotation_edit(ann2, "DELETE", body)
        assert plugin.indexes["annotation"].count() == 0
        # tsmeta via handler
        _, ts = api.handle_tsmeta_edit(None, "POST",
                                       {"tsuid": "abc", "description": "d"}, spark=spark)
        assert plugin.indexes["tsmeta"].count() == 1
        api.handle_tsmeta_edit(ts, "DELETE", {"tsuid": "abc"})
        assert plugin.indexes["tsmeta"].count() == 0
        assert plugin.collect_stats()["delete_calls"] == 3
        # GLOBAL annotation (tsuid NULL): re-index must still be last-write-
        # wins — a plain anti-join on the keys never matches NULL tsuid and
        # would keep the stale row alongside the new one
        gbody = {"startTime": MS // 1000, "description": "global v1"}
        _, g1 = api.handle_annotation_edit(empty_ann, "POST", gbody)
        _, g2 = api.handle_annotation_edit(
            g1, "POST", {**gbody, "description": "global v2"})
        idx = plugin.indexes["annotation"].collect()
        assert len(idx) == 1 and idx[0]["description"] == "global v2"
        api.handle_annotation_edit(g2, "DELETE", gbody)
        assert plugin.indexes["annotation"].count() == 0
        # types the plugin has no index for fall back to the built-in backend
        assert api.handle_search(fixture_points, {"type": "tsuids", "query": "web01"})[
            "totalResults"] > 0
    finally:
        SEARCH_PLUGINS.remove(plugin)


def test_tree_store_crud(fixture_points):
    """Persistent tree state (reference src/tree/Tree.java storage rows +
    src/tsd/TreeRpc.java CRUD): create/edit/list/delete definitions,
    rebuild persists leaves + collision/not-matched families, and the
    family endpoints serve the recorded failures."""
    from opentsdb_spark import api
    from opentsdb_spark.operators.tree import TreeStore

    store = TreeStore()
    t = api.handle_tree_edit("POST", {
        "name": "dc tree", "storeFailures": True,
        "rules": [{"type": "TAGK", "field": "dc"}],
    }, store=store)
    assert t["treeId"] == 1 and t["storeFailures"]
    # METRIC-only second tree; ids auto-increment
    t2 = api.handle_tree_edit("POST", {
        "name": "by metric", "rules": [{"type": "METRIC"}],
    }, store=store)
    assert t2["treeId"] == 2
    assert [x["treeId"] for x in api.handle_tree_edit("GET", {}, store=store)] == [1, 2]
    # POST edit touches only provided fields
    t = api.handle_tree_edit("POST", {"treeId": 1, "notes": "n2"}, store=store)
    assert t["notes"] == "n2" and t["name"] == "dc tree" and len(t["rules"]) == 1
    # rebuild tree 1: dc values lga/phx -> one leaf per dc, no collisions
    out = api.handle_tree_rebuild(fixture_points, {"treeId": 1}, store=store)
    assert out["stored"] == ["collisions", "leaves", "not_matched"]
    assert api.handle_tree_family({"treeId": 1, "family": "collisions"},
                                  store=store) == []
    assert api.handle_tree_family({"treeId": 1, "family": "notmatched"},
                                  store=store) == []
    # METRIC-only tree: both series collapse onto one leaf -> 1 collision,
    # the smaller series_id wins (deterministic analog of first-writer-wins,
    # Tree.java:274-281)
    api.handle_tree_edit("POST", {"treeId": 2, "storeFailures": True}, store=store)
    api.handle_tree_rebuild(fixture_points, {"treeId": 2}, store=store)
    colls = api.handle_tree_family({"treeId": 2, "family": "collisions"}, store=store)
    assert len(colls) == 1
    assert colls[0]["existing_series_id"] < colls[0]["series_id"]
    assert colls[0]["branch_path"] == "sys.cpu.user"
    # a rule missing a tag records not-matched with the failed rule reason
    api.handle_tree_edit("POST", {
        "treeId": 2,
        "rules": [{"type": "METRIC"}, {"type": "TAGK", "field": "rack"}],
    }, store=store)
    api.handle_tree_rebuild(fixture_points, {"treeId": 2}, store=store)
    nm = api.handle_tree_family({"treeId": 2, "family": "notmatched"}, store=store)
    assert len(nm) == 2 and all(r["reason"] == "1:TAGK:rack" for r in nm)
    # storeFailures off -> families are not stored and reads are refused
    store.edit(2, store_failures=False)
    api.handle_tree_rebuild(fixture_points, {"treeId": 2}, store=store)
    with pytest.raises(ValueError, match="does not store"):
        api.handle_tree_family({"treeId": 2, "family": "collisions"}, store=store)
    # strict_match drops a series failing any rule from the leaves
    store.edit(2, strict_match=True)
    state = store.rebuild(2, fixture_points)
    assert state["leaves"].count() == 0  # no series carries the rack tag
    # DELETE wipes definition + built state
    api.handle_tree_edit("DELETE", {"treeId": 2}, store=store)
    assert [x["treeId"] for x in api.handle_tree_edit("GET", {}, store=store)] == [1]
    with pytest.raises(KeyError):
        api.handle_tree_family({"treeId": 2, "family": "collisions"}, store=store)


def test_tree_sync_and_purge(fixture_points, tmp_path):
    """Disk-backed tree storage (reference `tsdb uid treesync` /
    `uid treepurge`, src/tools/UidManager.java:220-245 -> TreeSync.java):
    definitions round-trip through trees.json, the sweep builds only
    ENABLED trees and writes their row families as parquet, and purge
    removes the built rows — the definition only with the explicit flag."""
    import os

    from opentsdb_spark.operators.tree import (
        TreeDef, TreeRule, TreeStore, load_tree_defs, save_tree_defs,
        treepurge, treesync,
    )

    store = TreeStore()
    store.create(TreeDef(tree_id=0, name="by dc", store_failures=True,
                         rules=(TreeRule(type="TAGK", field="dc"),)))
    store.create(TreeDef(tree_id=0, name="disabled", enabled=False,
                         rules=(TreeRule(type="METRIC"),)))
    d = str(tmp_path / "trees")
    save_tree_defs(store, d)
    loaded = load_tree_defs(d)
    assert loaded.trees[1].rules == store.trees[1].rules
    assert loaded.trees[1].store_failures and not loaded.trees[2].enabled

    report = treesync(loaded, fixture_points, d)
    assert set(report) == {1}  # disabled tree skipped (TreeBuilder refusal)
    assert report[1]["leaves"] == 2 and report[1]["collisions"] == 0
    spark = fixture_points.sparkSession
    leaves = spark.read.parquet(os.path.join(d, "tree_1", "leaves"))
    assert {r["path"][0] for r in leaves.collect()} == {"lga", "phx"}

    # stale-family cleanup: toggling store_failures off must not leave
    # last sync's collisions/not_matched parquet next to fresh leaves
    loaded.edit(1, store_failures=False)
    save_tree_defs(loaded, d)
    report = treesync(load_tree_defs(d), fixture_points, d)
    assert set(report[1]) == {"leaves"}
    assert not os.path.isdir(os.path.join(d, "tree_1", "collisions"))
    # a tree disabled after a sync loses its whole built dir on the next
    loaded.edit(1, enabled=False)
    save_tree_defs(loaded, d)
    assert treesync(load_tree_defs(d), fixture_points, d) == {}
    assert not os.path.isdir(os.path.join(d, "tree_1"))

    loaded.edit(1, enabled=True)
    save_tree_defs(loaded, d)
    treesync(load_tree_defs(d), fixture_points, d)
    treepurge(d, 1)
    assert not os.path.isdir(os.path.join(d, "tree_1"))
    assert 1 in load_tree_defs(d).trees  # definition survives a plain purge
    treepurge(d, 1, delete_definition=True)
    assert 1 not in load_tree_defs(d).trees
    assert 2 in load_tree_defs(d).trees


def test_auth_plugin_surface(fixture_points, spark):
    """Auth plugin surface (reference src/auth/Authentication.java /
    Authorization.java / AllowAllAuthenticatingAuthorizer.java): default
    stays open; an installed plugin authenticates per request and can deny
    permissions or individual queries; state rides the request dict."""
    from opentsdb_spark import api
    from opentsdb_spark.auth import (
        FORBIDDEN, SUCCESS, UNAUTHORIZED, AllowAllAuthenticatingAuthorizer,
        AuthError, AuthState, Authentication, Authorization, auth_enabled,
        check_permission, configure_auth,
    )

    req = {"start": EPOCH, "end": EPOCH + 9000,
           "m": "sum:10m-avg:sys.cpu.user{host=*}"}
    # default: open, anonymous (AllowAll analog), handlers unaffected
    assert not auth_enabled()
    assert check_permission(req, "HTTP_PUT").user == "anonymous"
    assert api.handle_query(fixture_points, dict(req))

    class TokenAuth(Authentication, Authorization):
        def authenticate_http(self, request):
            tok = request.get("_headers", {}).get("Authorization")
            if tok == "token ok":
                return AuthState("alice")
            return AuthState("-", UNAUTHORIZED, "bad token")

        def authenticate_telnet(self, command):
            return AuthState("telnet-user")

        def authorization(self):
            return self

        def has_permission(self, state, permission):
            if permission == "HTTP_PUT" and state.user != "alice":
                return AuthState(state.user, FORBIDDEN, "puts restricted")
            return state

        def allow_query(self, state, tsq):
            if any(q.metric == "secret.metric" for q in tsq.queries):
                return AuthState(state.user, FORBIDDEN, "metric restricted")
            return state

    configure_auth(TokenAuth())
    try:
        assert auth_enabled()
        # unauthenticated request -> UNAUTHORIZED from handle_query
        with pytest.raises(AuthError, match="UNAUTHORIZED"):
            api.handle_query(fixture_points, dict(req))
        # authenticated -> allowed
        ok = {**req, "_headers": {"Authorization": "token ok"}}
        assert api.handle_query(fixture_points, dict(ok))
        # per-query authorization denies a restricted metric
        bad = {**ok, "m": "sum:secret.metric"}
        with pytest.raises(AuthError, match="FORBIDDEN"):
            api.handle_query(fixture_points, dict(bad))
        # put permission enforced through handle_put
        with pytest.raises(AuthError):
            api.handle_put(spark, {"metric": "m", "timestamp": EPOCH,
                                   "value": 1, "tags": {"h": "a"}},
                           request={"_headers": {}})
        resp, table = api.handle_put(
            spark, {"metric": "m", "timestamp": EPOCH, "value": 1,
                    "tags": {"h": "a"}},
            request={"_headers": {"Authorization": "token ok"}})
        assert resp["success"] == 1 and table.num_rows == 1
        # a front-end-supplied state short-circuits re-authentication
        pre = {"start": EPOCH, "end": EPOCH + 9000, "m": req["m"],
               "_auth_state": AuthState("bob", SUCCESS)}
        assert api.handle_query(fixture_points, pre)
        # telnet surface
        st = TokenAuth().authenticate_telnet(["put", "sys.cpu.user"])
        assert st.user == "telnet-user" and st.status == SUCCESS
    finally:
        configure_auth(None)
    assert not auth_enabled()
    # AllowAll rejects unknown permission names
    a = AllowAllAuthenticatingAuthorizer()
    assert a.has_permission(AuthState("x"), "NOT_A_PERMISSION").status == FORBIDDEN


def test_meta_sync_and_purge(fixture_points, spark):
    """MetaSync/MetaPurge sweeps (reference src/tools/MetaSync.java,
    MetaPurge.java): sync creates registry rows for every live UID/TSUID,
    preserves edited fields, drops rows for vanished names, re-indexes
    search plugins; purge wipes everything."""
    from opentsdb_spark.operators.metadata import (
        SEARCH_PLUGINS, FrameIndexSearchPlugin, register_search_plugin,
    )
    from opentsdb_spark.operators.uid import meta_purge, meta_sync, uidmeta_upsert

    # fresh sync from nothing: 1 metric + 2 tagks + 4 tagvs, 2 series
    um, tm = meta_sync(fixture_points, notify=False)
    uid_rows = {(r["kind"], r["name"]) for r in um.collect()}
    assert ("metrics", "sys.cpu.user") in uid_rows
    assert ("tagk", "host") in uid_rows and ("tagv", "web02") in uid_rows
    assert len(uid_rows) == 7
    assert tm.count() == 2 and all(r["description"] is None for r in tm.collect())

    # edited fields survive a re-sync; stale rows are dropped
    um2 = uidmeta_upsert(um, "metrics", "sys.cpu.user", description="cpu busy")
    um2 = uidmeta_upsert(um2, "metrics", "gone.metric", description="orphan")
    um3, tm3 = meta_sync(fixture_points, um2, tm, notify=False)
    rows = {(r["kind"], r["name"]): r for r in um3.collect()}
    assert rows[("metrics", "sys.cpu.user")]["description"] == "cpu busy"
    assert ("metrics", "gone.metric") not in rows
    assert len(rows) == 7

    # plugins are re-indexed by the sweep
    plugin = FrameIndexSearchPlugin()
    register_search_plugin(plugin)
    try:
        meta_sync(fixture_points, um3, tm3)
        assert plugin.indexes["uidmeta"].count() == 7
        assert plugin.indexes["tsmeta"].count() == 2
    finally:
        SEARCH_PLUGINS.remove(plugin)

    # purge: both registries emptied, schemas intact
    pu, pt = meta_purge(spark)
    assert pu.count() == 0 and pt.count() == 0
    assert "kind" in pu.columns and "tsuid" in pt.columns


def test_metasync_cli_roundtrip(tmp_path):
    """The metasync CLI writes/reads the registry parquet pair and the
    purge flag wipes it."""
    import json as _json

    from opentsdb_spark.cli import main as cli_main

    meta = str(tmp_path / "meta")
    import contextlib, io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main(["metasync", "--meta-dir", meta]) == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["uidmeta"] > 0 and out["tsmeta"] > 0 and not out["purged"]
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main(["metasync", "--meta-dir", meta, "--purge"]) == 0
    out = _json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out == {"uidmeta": 0, "tsmeta": 0, "purged": True}


def test_scan_cli(tmp_path):
    """tsdb scan prints matched raw cells; --delete --out persists the
    retained table (DumpSeries parity)."""
    import contextlib
    import io

    from opentsdb_spark.cli import main as cli_main

    spec = "sum:purchase{user=literal_or(1|2)}"
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main(["scan", "--start", "2024/01/01", "--end", "2024/02/01", spec]) == 0
    lines = [x for x in buf.getvalue().splitlines() if x.startswith("put purchase ")]
    assert lines and all((" user=1" in x) or (" user=2" in x) for x in lines)

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main([
            "scan", "--start", "2024/01/01", "--end", "2024/02/01",
            "--importfmt", spec,
        ]) == 0
    assert all(not x.startswith("put ") for x in buf.getvalue().splitlines()[:5])

    out = str(tmp_path / "retained")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main([
            "scan", "--start", "2024/01/01", "--end", "2024/01/05",
            "--delete", "--out", out, "sum:purchase",
        ]) == 0
    assert "deleted" in buf.getvalue()
    from opentsdb_spark.session import get_spark
    from opentsdb_spark.sources.points import read_points

    retained = read_points(get_spark("t"), out)
    assert retained.where("metric = 'purchase'").count() > 0  # outside range kept
    assert retained.where(
        "metric = 'purchase' and ts >= '2024-01-01' and ts <= '2024-01-05'"
    ).count() == 0


def test_uid_cli_subcommands(tmp_path):
    """tsdb uid grep/assign/rename (reference UidManager tool surface)."""
    import contextlib
    import io
    import json as _json

    from opentsdb_spark.cli import main as cli_main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main(["uid", "grep", "^sign"]) == 0
    lines = [x for x in buf.getvalue().splitlines() if x.strip()]
    assert lines and all(x.startswith("signup") for x in lines)

    reg = str(tmp_path / "reg")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        # argparse can't resume a nargs='*' positional after an optional —
        # options go before the subcommand words
        assert cli_main(["uid", "--registry", reg, "assign", "m.new"]) == 0
    out = _json.loads(buf.getvalue())
    assert "m.new" in out["metric"]

    out_dir = str(tmp_path / "renamed")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert cli_main(["uid", "--kind", "metrics", "--out", out_dir,
                         "rename", "signup", "signup2"]) == 0
    from opentsdb_spark.session import get_spark
    from opentsdb_spark.sources.points import read_points

    pts = read_points(get_spark("t"), out_dir)
    assert pts.where("metric = 'signup'").count() == 0
    assert pts.where("metric = 'signup2'").count() > 0


def test_uid_assign_registry_roundtrip(tmp_path):
    """Two consecutive assigns against the SAME registry path (the second
    read+overwrite was the overwrite-while-reading hazard)."""
    import contextlib
    import io
    import json as _json

    from opentsdb_spark.cli import main as cli_main

    reg = str(tmp_path / "reg")
    for name in ("m.one", "m.two"):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert cli_main(["uid", "--registry", reg, "assign", name]) == 0
        assert name in _json.loads(buf.getvalue())["metric"]
    from opentsdb_spark.session import get_spark

    rows = {r["name"] for r in get_spark("t").read.parquet(reg).collect()}
    assert rows == {"m.one", "m.two"}
