"""Loader-compat end-to-end tests: the reference's pytest semantics
(test_bulk_loader.py golden behaviors, via FIXTURES.md §2) reproduced
over bulk_insert() DataFrames.
"""

import json
import os

import pytest

from redisgraph_bulk_loader_spark.config import Config
from redisgraph_bulk_loader_spark.exceptions import CSVError, SchemaError
from redisgraph_bulk_loader_spark.plans.loader import bulk_insert

PERSONS = [
    ("Roi Lipman", 32, "male", "married"),
    ("Alon Fital", 32, "male", "married"),
    ("Ailon Velger", 32, "male", "married"),
    ("Ori Laslo", 32, "male", "married"),
    ("Boaz Arad", 31, "male", "married"),
    ("Omri Traub", 33, "male", "single"),
    ("Tal Doron", 32, "male", "single"),
    ("Lucy Yanfital", 30, "female", "married"),
    ("Jane Chernomorin", 31, "female", "married"),
    ("Shelly Laslo Rooz", 31, "female", "married"),
    ("Valerie Abigail Arad", 31, "female", "married"),
    ("Gal Derriere", 26, "male", "single"),
    ("Mor Yesharim", 31, "female", "married"),
    ("Noam Nativ", 34, "male", "single"),
]
COUNTRIES = ["USA", "Prague", "Japan", "Greece", "Canada", "China",
             "Amsterdam", "Andora", "Kazakhstan", "Russia", "Germany",
             "Italy", "Thailand"]
KNOWS = [
    ("Roi Lipman", "Alon Fital", "friend"),
    ("Roi Lipman", "Ailon Velger", "friend"),
    ("Roi Lipman", "Ori Laslo", "friend"),
    ("Roi Lipman", "Boaz Arad", "friend"),
    ("Roi Lipman", "Omri Traub", "friend"),
    ("Roi Lipman", "Tal Doron", "friend"),
    ("Alon Fital", "Lucy Yanfital", "married"),
    ("Alon Fital", "Gal Derriere", "friend"),
    ("Alon Fital", "Mor Yesharim", "friend"),
    ("Ailon Velger", "Jane Chernomorin", "married"),
    ("Ailon Velger", "Noam Nativ", "friend"),
    ("Ori Laslo", "Shelly Laslo Rooz", "married"),
    ("Boaz Arad", "Valerie Abigail Arad", "friend"),
]
VISITED = [
    ("Roi Lipman", "USA", "business"),
    ("Roi Lipman", "Prague", "both"),
    ("Alon Fital", "Prague", "both"),
    ("Alon Fital", "USA", "both"),
    ("Ori Laslo", "China", "business"),
]


def _w(tmp_path, name, text):
    p = os.path.join(str(tmp_path), name)
    with open(p, "w") as f:
        f.write(text)
    return p


@pytest.fixture(scope="module")
def social(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("social")
    person = _w(tmp, "Person.csv", "name,age,gender,status\n" + "".join(
        f"{n},{a},{g},{s}\n" for n, a, g, s in PERSONS))
    country = _w(tmp, "Country.csv", "name\n" + "".join(
        f"{c}\n" for c in COUNTRIES))
    knows = _w(tmp, "KNOWS.csv", "src,dest,relation\n" + "".join(
        f"{a},{b},{r}\n" for a, b, r in KNOWS))
    visited = _w(tmp, "VISITED.csv", "src_person,dest_country,purpose\n"
                 + "".join(f"{a},{b},{p}\n" for a, b, p in VISITED))
    return bulk_insert(
        spark,
        [(person, None), (country, None)],
        [(knows, None), (visited, None)],
    )


class TestSocialGraph:
    def test_counts(self, social):
        counts = {r.label: r.n for r in social.node_counts.collect()}
        assert counts == {"Person": 14, "Country": 13}
        ec = {r.rel_type: r.n for r in social.edge_counts.collect()}
        assert ec == {"KNOWS": 13, "VISITED": 5}

    def test_person_properties_typed(self, social):
        rows = social.nodes.filter("label = 'Person'").collect()
        props = {r.key: json.loads(r.props_json) for r in rows}
        assert props["Roi Lipman"] == {
            "name": '"Roi Lipman"', "age": "32", "gender": '"male"',
            "status": '"married"',
        }  # age inferred long; others strings

    def test_knows_triples(self, social):
        # golden KNOWS set (test_bulk_loader.py:150-165 semantics)
        reg = {r.key: r.internal_id for r in social.registry.collect()}
        inv = {v: k for k, v in reg.items()}
        got = {
            (inv[r.src_internal], inv[r.dst_internal],
             json.loads(r.props_json)["relation"])
            for r in social.edges.filter("rel_type = 'KNOWS'").collect()
        }
        expected = {(a, b, f'"{r}"') for a, b, r in KNOWS}
        assert got == expected

    def test_dense_ids_in_file_row_order(self, social):
        # Person file processed first: persons get ids 0..13 in row
        # order, countries 14..26 (query_buffer.py:12-23 counter parity)
        reg = {r.key: r.internal_id for r in social.registry.collect()}
        assert reg["Roi Lipman"] == 0
        assert reg["Noam Nativ"] == 13
        assert reg["USA"] == 14
        assert reg["Thailand"] == 26

    def test_batch_invariance(self, spark, social, tmp_path):
        # partition-count analogue of --max-token-count 1 identity
        # (test_bulk_loader.py:294-357): same ids regardless of layout
        reg1 = {r.key: r.internal_id for r in social.registry.collect()}
        # re-run with different shuffle partitions
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        try:
            p = _w(tmp_path, "Person.csv", "name,age,gender,status\n" + "".join(
                f"{n},{a},{g},{s}\n" for n, a, g, s in PERSONS))
            c = _w(tmp_path, "Country.csv", "name\n" + "".join(
                f"{x}\n" for x in COUNTRIES))
            g2 = bulk_insert(spark, [(p, None), (c, None)],
                             [])
            reg_rows = g2.nodes.select("key", "internal_id").collect()
            reg2 = {r.key: r.internal_id for r in reg_rows}
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert reg1 == reg2


class TestLoaderSemantics:
    def test_private_identifier(self, spark, tmp_path):
        # test_bulk_loader.py:209-248
        p = _w(tmp_path, "priv.csv", "_identifier,nodename\n0,a\n5,b\n3,c\n")
        r = _w(tmp_path, "rel.csv", "src,dest\n0,3\n5,3\n")
        g = bulk_insert(spark, [(p, None)], [(r, None)])
        props = [json.loads(x.props_json) for x in g.nodes.collect()]
        assert all("_identifier" not in pr for pr in props)
        assert sorted(pr["nodename"] for pr in props) == ['"a"', '"b"', '"c"']
        assert g.edges.count() == 2

    def test_reused_identifier_fails_with_edges(self, spark, tmp_path):
        # test_bulk_loader.py:250-292
        p = _w(tmp_path, "dup.csv", "_identifier,nodename\n0,a\n5,b\n0,c\n")
        r = _w(tmp_path, "rel2.csv", "src,dest\n0,5\n")
        with pytest.raises(
                SchemaError,
                match="Node identifier '0' was used multiple times"):
            bulk_insert(spark, [(p, None)], [(r, None)])

    def test_reused_identifier_ok_nodes_only(self, spark, tmp_path):
        p = _w(tmp_path, "dup2.csv", "_identifier,nodename\n0,a\n5,b\n0,c\n")
        g = bulk_insert(spark, [(p, None)])
        assert g.nodes.count() == 3

    def test_reused_identifier_skip_mode_last_wins(self, spark, tmp_path):
        p = _w(tmp_path, "dup3.csv", "_identifier,nodename\n0,a\n5,b\n0,c\n")
        r = _w(tmp_path, "rel3.csv", "src,dest\n0,5\n")
        cfg = Config(skip_invalid_nodes=True)
        g = bulk_insert(spark, [(p, None)], [(r, None)], cfg)
        assert g.nodes.count() == 3  # every row still a node
        reg = {x.key: x.internal_id for x in g.registry.collect()}
        assert reg["0"] == 2  # last occurrence wins

    def test_unknown_endpoint_strict(self, spark, tmp_path):
        # test_bulk_loader.py:359-419
        p = _w(tmp_path, "n.csv", "_id,v\n0,a\n1,b\n")
        r = _w(tmp_path, "r.csv", "src,dest\n0,99\n")
        with pytest.raises(CSVError):
            bulk_insert(spark, [(p, None)], [(r, None)])

    def test_unknown_endpoint_skip(self, spark, tmp_path):
        p = _w(tmp_path, "n2.csv", "_id,v\n0,a\n1,b\n")
        r = _w(tmp_path, "r2.csv", "src,dest\n0,99\n0,1\n")
        cfg = Config(skip_invalid_edges=True)
        g = bulk_insert(spark, [(p, None)], [(r, None)], cfg)
        assert g.skipped_edges == 1
        assert g.edges.count() == 1

    def test_mixed_type_column(self, spark, tmp_path):
        # test_bulk_loader.py:421-467 per-cell inference
        p = _w(tmp_path, "m.csv",
               "numeric,mixed,bool\n0.2,string_prop_1,True\n5,notnull,False\n"
               "7,100,False\n")
        g = bulk_insert(spark, [(p, None)])
        rows = sorted(
            (json.loads(r.props_json) for r in g.nodes.collect()),
            key=lambda d: d["numeric"],
        )
        assert [d["numeric"] for d in rows] == ["0.2", "5", "7"]
        assert [d["mixed"] for d in rows] == ['"string_prop_1"', '"notnull"', "100"]
        assert [d["bool"] for d in rows] == ["true", "false", "false"]

    def test_utf8(self, spark, tmp_path):
        p = _w(tmp_path, "u.csv", "id,utf8_str_ß\n0,Straße\n1,中國的\n")
        g = bulk_insert(spark, [(p, None)])
        vals = sorted(
            json.loads(r.props_json)["utf8_str_ß"] for r in g.nodes.collect()
        )
        assert vals == ['"Straße"', '"中國的"']

    def test_custom_separator(self, spark, tmp_path):
        p = _w(tmp_path, "sep.csv", "a|b\n1|x\n")
        g = bulk_insert(spark, [(p, None)], config=Config(separator="|"))
        assert json.loads(g.nodes.collect()[0].props_json) == {
            "a": "1", "b": '"x"'}

    def test_enforced_schema_string_keeps_zero(self, spark, tmp_path):
        # test_bulk_loader.py:548-575
        p = _w(tmp_path, "s.csv",
               "str_col:STRING,num_col:INT,bool_col:BOOLEAN\n0,0,True\n1,1,False\n")
        cfg = Config(enforce_schema=True)
        g = bulk_insert(spark, [(p, None)], config=cfg)
        rows = sorted(
            (json.loads(r.props_json) for r in g.nodes.collect()),
            key=lambda d: d["num_col"],
        )
        assert rows[0] == {"str_col": '"0"', "num_col": "0", "bool_col": "true"}

    def test_enforced_schema_violation_raises(self, spark, tmp_path):
        # test_bulk_loader.py:577-596
        p = _w(tmp_path, "bad.csv", "num_col:INT\nstr\n")
        with pytest.raises(Exception) as ei:
            bulk_insert(spark, [(p, None)], config=Config(enforce_schema=True))
        assert "SchemaError" in str(ei.value) or isinstance(ei.value, SchemaError)

    def test_enforced_unknown_column(self, spark, tmp_path):
        # the header accepts a declared UNKNOWN type and stores the column
        # as a property, but no value casts to it: an empty cell stays
        # absent, a non-empty one is a schema violation
        cfg = Config(enforce_schema=True)
        ok = _w(tmp_path, "unk.csv", "id:ID,x:UNKNOWN\na,\nb,\n")
        g = bulk_insert(spark, [(ok, None)], config=cfg)
        assert sorted(json.loads(r.props_json)["id"]
                      for r in g.nodes.collect()) == ['"a"', '"b"']
        assert all("x" not in json.loads(r.props_json)
                   for r in g.nodes.collect())
        bad = _w(tmp_path, "unk_bad.csv", "id:ID,x:UNKNOWN\na,\nb,1\n")
        with pytest.raises(Exception) as ei:
            bulk_insert(spark, [(bad, None)], config=cfg)
        assert "SchemaError" in str(ei.value) or isinstance(ei.value, SchemaError)
        assert "KeyError" not in str(ei.value)

    def test_ignore_column_absent(self, spark, tmp_path):
        # test_bulk_loader.py:598-625
        p = _w(tmp_path, "ig.csv",
               "str_col:STRING,ignore_col:IGNORE\nkeep,drop\n")
        g = bulk_insert(spark, [(p, None)], config=Config(enforce_schema=True))
        assert json.loads(g.nodes.collect()[0].props_json) == {
            "str_col": '"keep"'}

    def test_null_cell_property_absent(self, spark, tmp_path):
        # test_bulk_loader.py:627-654
        p = _w(tmp_path, "nl.csv", "str_col,mixed_col\nstr1,True\nstr2,\n")
        g = bulk_insert(spark, [(p, None)])
        by_str = {
            json.loads(r.props_json)["str_col"]: json.loads(r.props_json)
            for r in g.nodes.collect()
        }
        assert "mixed_col" in by_str['"str1"']
        assert "mixed_col" not in by_str['"str2"']

    def test_id_namespaces(self, spark, tmp_path):
        # test_bulk_loader.py:656-710: same ext id "0" in two namespaces
        u = _w(tmp_path, "User.csv", "id:ID(User),name:STRING\n0,Jeffrey\n1,Filipe\n")
        po = _w(tmp_path, "Post.csv", "id:ID(Post),views:INT\n0,20\n1,40\n")
        au = _w(tmp_path, "AUTHOR.csv", ":START_ID(User),:END_ID(Post)\n0,0\n1,1\n")
        cfg = Config(enforce_schema=True)
        g = bulk_insert(spark, [(u, None), (po, None)], [(au, None)], cfg)
        reg = {r.key: r.internal_id for r in g.registry.collect()}
        assert set(reg) == {"User.0", "User.1", "Post.0", "Post.1"}
        edges = sorted(
            (r.src_internal, r.dst_internal) for r in g.edges.collect()
        )
        assert edges == [(0, 2), (1, 3)]
        # named ID column stored as a property — STRING under the
        # default id_type (ID_STRING, entity_file.py:293-295)
        props = {r.key: json.loads(r.props_json) for r in g.nodes.collect()}
        assert props["User.0"]["id"] == '"0"'
        assert props["Post.1"]["views"] == "40"

    def test_integer_ids(self, spark, tmp_path):
        # test_bulk_loader.py:884-941: id property stored as long
        u = _w(tmp_path, "N.csv", "id:ID,name:STRING\n0,a\n1,b\n")
        cfg = Config(enforce_schema=True, id_type="INTEGER")
        g = bulk_insert(spark, [(u, None)], config=cfg)
        props = [json.loads(r.props_json) for r in g.nodes.collect()]
        assert sorted(p["id"] for p in props) == ["0", "1"]  # long literals

    def test_array_properties(self, spark, tmp_path):
        # test_bulk_loader.py:712-773
        p = _w(tmp_path, "arr.csv",
               "str_col|arr_col\nstr1|[1, 0.2, 'nested_str', False]\n"
               "str2|['prop1', ['nested_1', 'nested_2'], 5]\n")
        g = bulk_insert(spark, [(p, None)], config=Config(separator="|"))
        by_str = {
            json.loads(r.props_json)["str_col"]: json.loads(r.props_json)["arr_col"]
            for r in g.nodes.collect()
        }
        assert by_str['"str1"'] == '[1,0.2,"nested_str",false]'
        assert by_str['"str2"'] == '["prop1",["nested_1","nested_2"],5]'

    def test_array_schema_violation(self, spark, tmp_path):
        # test_bulk_loader.py:775-803
        p = _w(tmp_path, "arrb.csv", "a:ARRAY\nnot_an_array\n")
        with pytest.raises(Exception) as ei:
            bulk_insert(spark, [(p, None)], config=Config(enforce_schema=True))
        assert "SchemaError" in str(ei.value) or isinstance(ei.value, SchemaError)

    def test_quoted_values_literal(self, spark, tmp_path):
        # example2/Robots.csv: quotes kept, quoted numeric is a string
        p = _w(tmp_path, "Robots.csv", '"name"\n"Beebop"\n"30165"\n')
        g = bulk_insert(spark, [(p, None)])
        props = [json.loads(r.props_json) for r in g.nodes.collect()]
        # the QUOTE_NONE header keeps its quotes too
        assert {k for d in props for k in d} == {'"name"'}
        vals = sorted(d['"name"'] for d in props)
        assert vals == ['"\\"30165\\""', '"\\"Beebop\\""']

    def test_quoted_header_matches_csv_reader(self, spark, tmp_path):
        """Under a quoted dialect the header is csv.reader's first row
        of the file: its quotes go, like the records' (the reference
        reads both with one reader, entity_file.py:192-202)."""
        import csv as _csv
        import io as _io

        content = '"id", "full name",age\n"1","Alice A",30\n2,"Bob",31\n'
        p = _w(tmp_path, "q.csv", content)
        header = next(_csv.reader(
            _io.StringIO(content), delimiter=",", skipinitialspace=True,
            quoting=_csv.QUOTE_MINIMAL, escapechar="\\",
        ))
        g = bulk_insert(spark, [(p, None)],
                        config=Config(quoting=_csv.QUOTE_MINIMAL))
        rows = g.nodes.collect()
        assert header == ["id", "full name", "age"]
        assert {k for r in rows for k in json.loads(r.props_json)} == \
            set(header)
        assert sorted(r.key for r in rows) == ["1", "2"]

    def test_file_uri_inputs_load(self, spark, tmp_path):
        """Node and relation files given as file:// URIs load: the
        header is read through Hadoop FS like the records."""
        person = _w(tmp_path, "Person.csv", "name,age\nAlice,32\nBob,31\n")
        knows = _w(tmp_path, "KNOWS.csv", "src,dest\nAlice,Bob\n")
        g = bulk_insert(spark, [("file://" + person, None)],
                        [("file://" + knows, None)])
        nodes = {r.key: r for r in g.nodes.collect()}
        assert sorted(nodes) == ["Alice", "Bob"]
        assert nodes["Alice"].label == "Person"
        assert [(r.src_internal, r.dst_internal, r.rel_type)
                for r in g.edges.collect()] == [
            (nodes["Alice"].internal_id, nodes["Bob"].internal_id, "KNOWS")]

    def test_header_of_64_kib_raises(self, spark, tmp_path):
        """The header is parsed from the file's first 64 KiB; a header
        record that long or longer fails instead of loading cut."""
        p = _w(tmp_path, "wide.csv", "a" * (1 << 16) + "\n1\n")
        with pytest.raises(CSVError, match="64 KiB"):
            bulk_insert(spark, [(p, None)])


class TestConfigParity:
    """Reference test_config.py twins (defaults, modified values, caps,
    escapechar opt-out)."""

    def test_default_values(self):
        cfg = Config()
        assert cfg.max_token_count == 1024 * 1023
        assert cfg.max_buffer_size == 64 and cfg.max_token_size == 64
        assert cfg.enforce_schema is False
        assert cfg.id_type == "STRING"
        assert not cfg.skip_invalid_nodes and not cfg.skip_invalid_edges
        assert not cfg.store_node_identifiers
        assert cfg.separator == ","
        assert cfg.quoting == 3
        # reference config.py:17 defaults to backslash escape
        assert cfg.escapechar == "\\"

    def test_modified_values(self):
        cfg = Config(
            max_token_count=10, max_buffer_size=500, max_token_size=200,
            enforce_schema=True, id_type="INTEGER",
            skip_invalid_nodes=True, skip_invalid_edges=True,
            separator="|", quoting=0,
        )
        assert cfg.max_token_count == 10
        assert cfg.max_buffer_size == 500 and cfg.max_token_size == 200
        assert cfg.enforce_schema and cfg.id_type == "INTEGER"
        assert cfg.skip_invalid_nodes and cfg.skip_invalid_edges
        assert cfg.separator == "|" and cfg.quoting == 0

    def test_caps_enforced(self):
        import pytest as _pytest
        with _pytest.raises(ValueError):
            Config(max_token_count=1024 * 1023 + 1)
        with _pytest.raises(ValueError):
            Config(max_buffer_size=1025)
        with _pytest.raises(ValueError):
            Config(max_token_size=513, max_buffer_size=1024)
        with _pytest.raises(ValueError):
            Config(id_type="GUID")

    def test_escapechar_none_optout(self):
        # the reference CLI's "none" spelling disables escaping
        assert Config(escapechar="none").escapechar is None
        assert Config(escapechar="NONE").escapechar is None
        assert Config(escapechar="\\").escapechar == "\\"


class TestUpdaterRuntimeError:
    def test_runtime_cast_failure_fails_the_job(self, spark, tmp_path):
        """Reference test_runtime_error analogue: a fragment that
        analyzes fine but fails at execution (ANSI cast of a non-number)
        must fail the job, not silently null."""
        import pytest as _pytest

        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
            run_update_query,
        )

        p = tmp_path / "u.csv"
        p.write_text("id,val\na,notanumber\n")
        existing = spark.createDataFrame([("z", 1)], "ext_id string, v int")
        rows = read_update_csv(spark, str(p))
        # ANSI mode (Spark 4 default) fails the cast when the merged
        # frame is computed
        with _pytest.raises(Exception, match="(?i)cast|number|ansi"):
            run_update_query(
                spark, existing, rows,
                "row[0] AS ext_id, CAST(row[1] AS INT) AS v",
                key_cols=["ext_id"],
            ).collect()


class TestQuotedMultilineFields:
    """VERDICT r2 item 5: with quoting enabled, a quoted field may
    contain an embedded newline; the reference's csv.reader over the
    file object parses it as one record (entity_file.py:192-202)."""

    CONTENT = 'name,desc\nalpha,"first line\nsecond line"\nbeta,plain\n'

    def test_quoted_newline_matches_python_csv(self, spark, tmp_path):
        import csv as _csv
        import io as _io

        p = tmp_path / "m.csv"
        p.write_text(self.CONTENT)
        # reference ground truth: python csv with the same dialect
        expected = list(_csv.reader(
            _io.StringIO(self.CONTENT), delimiter=",",
            skipinitialspace=True, quoting=_csv.QUOTE_MINIMAL,
            escapechar="\\",
        ))[1:]
        g = bulk_insert(spark, [(str(p), "M")], (),
                        Config(quoting=_csv.QUOTE_MINIMAL))
        rows = sorted(g.nodes.collect(), key=lambda r: r.internal_id)
        assert [r.key for r in rows] == [e[0] for e in expected]
        props = {r.key: json.loads(r.props_json) for r in rows}
        # canonical string literals are json-encoded, so the embedded
        # newline appears exactly as json.dumps renders the csv cell
        assert props["alpha"]["desc"] == json.dumps(expected[0][1])
        assert json.loads(props["alpha"]["desc"]) == "first line\nsecond line"
        assert props["beta"]["desc"] == '"plain"'
        # internal ids still follow record order
        assert [r.internal_id for r in rows] == [0, 1]

    def test_quote_none_still_splits_on_newline(self, spark, tmp_path):
        """Under the QUOTE_NONE default dialect a newline always ends a
        record (reference parity), so the same file is an arity error —
        the distributed line reader is intentionally kept there."""
        import csv as _csv

        p = tmp_path / "m.csv"
        p.write_text(self.CONTENT)
        # the arity error fires inside the parsing task (surfaces as a
        # PythonException wrapping CSVError at the first action, which
        # bulk_insert's dense-id assignment triggers eagerly)
        with pytest.raises(Exception, match="Expected 2 columns"):
            bulk_insert(spark, [(str(p), "M")], (),
                        Config(quoting=_csv.QUOTE_NONE)).nodes.collect()


class TestEnforcedGolden:
    def test_enforced_lifecycle_matches_golden(self, spark):
        """kg_loader_enforced vs the hand-derived golden
        (tools/make_enforced_golden.py) — enforced schema, namespaces,
        named-ID-as-property, ID_INTEGER, relation internal ids."""
        import sys

        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        import __spark_entry__ as entrymod

        got = sorted(tuple(r) for r in entrymod.queries()
                     ["kg_loader_enforced"](spark, "").collect())
        exp = sorted(tuple(r) for r in spark.read.parquet(
            "/root/repo/tests/golden/loader_enforced.parquet").collect())
        assert got == exp


class TestDistributedQuotedParse:
    """ADVICE r3: a large quoted-dialect CSV must not funnel through the
    single-task whole-file parse — the distributed quote-parity record
    assembly must produce byte-identical records."""

    def _content(self):
        import io as _io
        import csv as _csv

        buf = _io.StringIO()
        w = _csv.writer(buf, quoting=_csv.QUOTE_MINIMAL,
                        lineterminator="\n")
        w.writerow(["name", "desc"])
        rows = []
        for i in range(300):
            if i % 4 == 0:
                d = f"multi line {i}\nsecond {i}\nthird {i}"
            elif i % 4 == 1:
                d = f'quoted "inner" {i}, with comma'  # writer doubles
            elif i % 4 == 2:
                d = f"plain {i}"
            else:
                d = f"comma, {i}"
            rows.append((f"k{i:04d}", d))
            w.writerow(rows[-1])
        content = buf.getvalue()
        # literal mid-field quotes in UNQUOTED fields (raw lines — a
        # csv writer would quote them): csv.reader keeps them as data
        # with NO quoting-state change; naive quote-parity counting
        # would flip state here and merge/drop every following record
        # (the code-review r4 corruption case)
        for i in range(40):
            content += f'k9{i:03d},5" literal {i}\n'
            content += f'k8{i:03d},tail quote {i}"\n'
        return content, rows

    def test_distributed_matches_whole_file(self, spark, tmp_path):
        import csv as _csv

        from redisgraph_bulk_loader_spark.cache import PinScope
        from redisgraph_bulk_loader_spark.config import Config
        from redisgraph_bulk_loader_spark.plans.loader import (
            _distributed_logical_cells,
            _logical_cells,
        )

        content, _rows = self._content()
        p = tmp_path / "big.csv"
        p.write_text(content)
        cfg = Config(quoting=_csv.QUOTE_MINIMAL)
        whole = _logical_cells(spark, str(p), cfg)
        with PinScope():
            dist = _distributed_logical_cells(spark, str(p), cfg)
            a = sorted((r.row_idx, tuple(r.cells)) for r in whole.collect())
            b = sorted((r.row_idx, tuple(r.cells)) for r in dist.collect())
        assert a == b
        assert len(b) == 380
        # really multi-partition (the parity fold crossed a boundary)
        from redisgraph_bulk_loader_spark.plans.loader import (
            _lines_with_index,
        )
        nparts = _lines_with_index(spark, str(p), skip_header=False) \
            .rdd.getNumPartitions()
        assert nparts >= 2

    def test_size_gate_routes_large_files(self, spark, tmp_path, monkeypatch):
        """Above the gate the loader lifecycle runs the distributed
        parse end to end with identical results."""
        import csv as _csv
        import json as _json

        from redisgraph_bulk_loader_spark.config import Config
        from redisgraph_bulk_loader_spark.plans import loader as loader_mod

        content, rows = self._content()
        p = tmp_path / "gate.csv"
        p.write_text(content)
        cfg = Config(quoting=_csv.QUOTE_MINIMAL)
        g1 = loader_mod.bulk_insert(spark, [(str(p), "M")], (), cfg)
        got1 = {r.key: (r.internal_id, r.props_json)
                for r in g1.nodes.collect()}
        monkeypatch.setattr(loader_mod, "WHOLE_FILE_MAX_BYTES", 0)
        g2 = loader_mod.bulk_insert(spark, [(str(p), "M")], (), cfg)
        got2 = {r.key: (r.internal_id, r.props_json)
                for r in g2.nodes.collect()}
        assert got1 == got2
        assert len(got2) == 380
        assert _json.loads(_json.loads(
            got2["k0000"][1])["desc"]) == "multi line 0\nsecond 0\nthird 0"

    def test_crlf_multiline_fields_match(self, spark, tmp_path):
        """CRLF files: Hadoop's line reader strips \r\n, so reassembly
        must rejoin embedded line breaks with the ORIGINAL terminator —
        multi-line cell bytes must match the whole-file parse."""
        import csv as _csv

        from redisgraph_bulk_loader_spark.cache import release_pins
        from redisgraph_bulk_loader_spark.config import Config
        from redisgraph_bulk_loader_spark.plans.loader import (
            _distributed_logical_cells,
            _logical_cells,
        )

        content = ('name,desc\r\n'
                   'a,"line one\r\nline two"\r\n'
                   'b,plain\r\n')
        p = tmp_path / "crlf.csv"
        p.write_bytes(content.encode())
        cfg = Config(quoting=_csv.QUOTE_MINIMAL)
        whole = sorted((r.row_idx, tuple(r.cells))
                       for r in _logical_cells(spark, str(p), cfg).collect())
        dist = sorted(
            (r.row_idx, tuple(r.cells))
            for r in _distributed_logical_cells(spark, str(p), cfg).collect())
        release_pins()
        assert whole == dist
        assert dict(whole)[1] == ("a", "line one\r\nline two")

    def test_newline_sniff_uses_hadoop_fs(self, spark, tmp_path):
        """ADVICE r4: terminator sniffing must go through the Hadoop
        FileSystem API so scheme-qualified paths (file://, hdfs://,
        s3a:// — exactly where the >32MB distributed path routes) sniff
        correctly; a local open() would OSError on the URI form and
        silently fall back to '\\n', corrupting CRLF multi-line cells
        on remote storage."""
        from redisgraph_bulk_loader_spark.plans.loader import _sniff_newline

        crlf = tmp_path / "crlf2.csv"
        crlf.write_bytes(b'a,b\r\nx,"l1\r\nl2"\r\n')
        lf = tmp_path / "lf.csv"
        lf.write_bytes(b"a,b\nx,y\n")
        # scheme-qualified URI — the regression the fix targets
        assert _sniff_newline(spark, "file://" + str(crlf)) == "\r\n"
        assert _sniff_newline(spark, str(crlf)) == "\r\n"
        assert _sniff_newline(spark, str(lf)) == "\n"
        # directory input sniffs a contained file; missing path -> '\n'
        assert _sniff_newline(spark, str(tmp_path)) in ("\r\n", "\n")
        assert _sniff_newline(spark, str(tmp_path / "nope.csv")) == "\n"


class TestScriptFailureParity:
    """Reference test_script_failures / test_invalid_inputs
    (test_bulk_loader.py:359-419, test_bulk_update.py:388-411): invalid
    inputs fail with the reference's messages, before or at load."""

    def test_relation_file_with_one_column_fails(self, spark, tmp_path):
        p = tmp_path / "n.csv"
        p.write_text("id,nodename\n0,a\n")
        r = tmp_path / "r.csv"
        r.write_text("src\n0\n")
        with pytest.raises(Exception, match="at least 2"):
            bulk_insert(spark, [(str(p), None)], [(str(r), None)])

    def test_unknown_endpoint_names_the_identifier(self, spark, tmp_path):
        """The failure message carries the offending identifier, like
        the reference's 'fakeidentifier' assertion."""
        p = tmp_path / "n.csv"
        p.write_text("id,nodename\n0,a\n")
        r = tmp_path / "r.csv"
        r.write_text("src,dest\n0,fakeidentifier\n")
        with pytest.raises(Exception, match="fakeidentifier"):
            bulk_insert(spark, [(str(p), None)], [(str(r), None)])

    def test_update_missing_csv_fails_nonzero(self, spark, tmp_path):
        """bulk_update with a non-existent CSV fails at read time
        (reference: 'No such file')."""
        from redisgraph_bulk_loader_spark.plans.updater import (
            read_update_csv,
        )

        with pytest.raises(Exception, match="does not exist"):
            # zipWithIndex resolves partitions eagerly, so the missing
            # path fails right at read time — before any query runs
            read_update_csv(spark, str(tmp_path / "fake_file.csv")).count()


class TestLargeQuotedFileGate:
    def test_real_gate_triggers_distributed_parse(self, spark, tmp_path):
        """A >32MB quoted CSV takes the distributed quote-state path
        through the REAL size gate (no monkeypatch) and produces the
        correct row count, ids in record order, and intact multi-line
        cells."""
        import csv as _csv
        import json as _json

        from redisgraph_bulk_loader_spark.config import Config
        from redisgraph_bulk_loader_spark.plans.loader import (
            WHOLE_FILE_MAX_BYTES, _input_size_bytes, bulk_insert,
        )

        p = tmp_path / "big_gate.csv"
        n = 120_000
        with open(p, "w", newline="") as f:
            w = _csv.writer(f, quoting=_csv.QUOTE_MINIMAL,
                            lineterminator="\n")
            w.writerow(["name", "desc"])
            filler = "x" * 300
            for i in range(n):
                if i % 50 == 0:
                    d = f"multi {i}\nline {i}\n{filler}"
                else:
                    d = f"plain {i} {filler}"
                w.writerow([f"k{i:07d}", d])
        assert _input_size_bytes(spark, str(p)) > WHOLE_FILE_MAX_BYTES
        g = bulk_insert(spark, [(str(p), "Big")], (),
                        Config(quoting=_csv.QUOTE_MINIMAL))
        nodes = g.nodes
        assert nodes.count() == n
        rows = {r.key: (r.internal_id, r.props_json)
                for r in nodes.filter(
                    nodes.key.isin("k0000000", "k0000050", "k0119999")
                ).collect()}
        assert rows["k0000000"][0] == 0
        assert rows["k0119999"][0] == n - 1
        d0 = _json.loads(_json.loads(rows["k0000050"][1])["desc"])
        assert d0.startswith("multi 50\nline 50\n")
