"""End-to-end pipeline tests on the synthesized spans corpus.

The parity surface per BASELINE.json: emitted (subj, pred, obj) triples
must match the planted ("reference") set at P/R >= 0.95; span-sequence
equality must hold per row; internal ids must be invariant under
partition count (the analogue of the reference's batch-size-invariance
test, /root/reference/test/test_bulk_loader.py:294-357).
"""

import pytest
from pyspark.sql import functions as F

from redisgraph_bulk_loader_spark.extract import (
    extract_mentions,
    extract_mentions_from_text,
    validate_span_sequences,
)
from redisgraph_bulk_loader_spark.ids import assign_dense_ids, build_node_registry
from redisgraph_bulk_loader_spark.plans import build_graph, triple_prf
from redisgraph_bulk_loader_spark.sources import (
    alias_table,
    synthesize_documents,
    synthesize_gold_triples,
)
from redisgraph_bulk_loader_spark.sources.documents import doc_payload

N_DOCS = 300


@pytest.fixture(scope="module")
def docs(spark):
    return synthesize_documents(spark, N_DOCS, seed=42).cache()


@pytest.fixture(scope="module")
def gold(spark):
    return synthesize_gold_triples(spark, N_DOCS, seed=42).cache()


class TestSynthesizer:
    def test_deterministic_across_partitionings(self, spark):
        a = synthesize_documents(spark, 50, seed=42, partitions=1).collect()
        b = synthesize_documents(spark, 50, seed=42, partitions=7).collect()
        sa = sorted((r.doc_id, str(r.spans)) for r in a)
        sb = sorted((r.doc_id, str(r.spans)) for r in b)
        assert sa == sb

    def test_span_sequence_invariant(self, spark, docs):
        # every generated doc satisfies the (kind,text,media_ref,order)
        # sequence invariant
        n_bad = docs.filter(~validate_span_sequences(docs)).count()
        assert n_bad == 0

    def test_interleaved_kinds(self, docs):
        kinds = (
            docs.select(F.explode("spans").alias("s"))
            .groupBy("s.kind").count().collect()
        )
        km = {r["kind"]: r["count"] for r in kinds}
        assert km.get("text", 0) > 0 and km.get("media", 0) > 0


class TestExtraction:
    def test_grammar_unit(self):
        assert extract_mentions_from_text("Ada Lovelace knows Alan Turing.") == [
            ("Ada Lovelace", "knows", "Alan Turing", "entity")
        ]
        assert extract_mentions_from_text("A. Hopper visited Prague for both.") == [
            ("A. Hopper", "visited", "Prague", "place")
        ]
        assert extract_mentions_from_text("X works at Y.") == [
            ("X", "works_at", "Y", "entity")
        ]
        assert extract_mentions_from_text("The weather was unremarkable that day.") == []

    def test_extraction_matches_pure_python_oracle(self, spark, docs):
        got = {
            (r.doc_id, r.span_offset, r.subj_surface, r.pred, r.obj_surface)
            for r in extract_mentions(docs).collect()
        }
        expected = set()
        for i in range(N_DOCS):
            spans, _ = doc_payload(42, i)
            did = f"doc-{i:09d}"
            for kind, text, ref, off in spans:
                if kind == "media":
                    ent = ref.split("//")[1].split("/")[0]
                    expected.add((did, off, ent, "has_media", ref))
                else:
                    for s, p, o, _k in extract_mentions_from_text(text):
                        expected.add((did, off, s, p, o))
        assert got == expected


class TestPipeline:
    @pytest.fixture(scope="class")
    def result(self, spark, docs):
        return build_graph(spark, docs, alias_table(spark))

    def test_triple_parity(self, spark, result, gold):
        prf = triple_prf(result["triples"], gold)
        assert prf["precision"] >= 0.95, prf
        assert prf["recall"] >= 0.95, prf

    def test_nodes_edges_consistent(self, result):
        n_nodes = result["nodes"].count()
        reg = result["registry"]
        assert reg.count() == n_nodes
        # dense ids: 0..n-1, no gaps
        ids = sorted(r.internal_id for r in reg.collect())
        assert ids == list(range(n_nodes))
        # every edge endpoint resolves
        n_edges = result["edges"].count()
        assert n_edges == result["triples"].count()
        bad = result["edges"].filter(
            F.col("src_internal").isNull() | F.col("dst_internal").isNull()
        ).count()
        assert bad == 0

    def test_pred_counts_match_plain_groupby(self, spark, docs, result):
        # two-phase (salted) aggregation == plain groupBy
        plain = {
            (r.pred): r.n
            for r in result["mentions"].groupBy("pred")
            .agg(F.count("*").alias("n")).collect()
        }
        # pred_counts counts resolved triples (pre-dedup), so compare on
        # the same base: recompute from mentions via two_phase_count
        from redisgraph_bulk_loader_spark.operators.skew import two_phase_count

        salted = {
            r.pred: r.n_triples
            for r in two_phase_count(
                result["mentions"], ["pred"], count_col="n_triples"
            ).collect()
        }
        assert salted == plain


class TestDenseIds:
    def test_partition_count_invariance(self, spark, docs, monkeypatch):
        # analogue of the reference's batched-build identity test; a
        # zero size gate sends these rows down the range-partition path,
        # the only one num_partitions reaches
        from redisgraph_bulk_loader_spark.canon import components

        monkeypatch.setattr(components, "DRIVER_CC_THRESHOLD", 0)
        base = docs.select("doc_id")
        a = assign_dense_ids(base, ["doc_id"], num_partitions=2).collect()
        b = assign_dense_ids(base, ["doc_id"], num_partitions=13).collect()
        ma = {r.doc_id: r.internal_id for r in a}
        mb = {r.doc_id: r.internal_id for r in b}
        assert ma == mb
        assert sorted(ma.values()) == list(range(len(ma)))

    def test_gate_branches_agree(self, spark, monkeypatch):
        """The global-window branch (at or under the size gate) and the
        range-partition branch number the same rows identically: string
        and integral order keys, a null in an order column (nulls sort
        first), a nonzero ``start``, LONG ids on both."""
        from redisgraph_bulk_loader_spark.canon import components

        rows = [("b", 2), ("a", 7), (None, 3), ("a", 1), ("c", None),
                ("b", 0)] * 3
        df = spark.createDataFrame(
            [(lab, i, k) for k, (lab, i) in enumerate(rows)],
            "label string, row_idx int, k long",
        )
        order = ["label", "row_idx", "k"]

        def ids():
            out = assign_dense_ids(df, order, start=5, num_partitions=3)
            assert out.schema["internal_id"].dataType.simpleString() == \
                "bigint"
            return sorted((r.k, r.internal_id) for r in out.collect())

        window = ids()
        monkeypatch.setattr(components, "DRIVER_CC_THRESHOLD", 0)
        assert ids() == window
        assert sorted(i for _, i in window) == list(range(5, 5 + 18))
        first = dict(window)
        nulls = [r.k for r in df.filter(F.col("label").isNull()).collect()]
        assert sorted(first[k] for k in nulls) == [5, 6, 7]

    def test_last_wins_registry(self, spark):
        df = spark.createDataFrame(
            [("0", "a", 0), ("5", "b", 1), ("0", "c", 2)],
            "ext_id string, name string, row_idx int",
        )
        reg = build_node_registry(df, ["ext_id"], ["row_idx"])
        m = {r.ext_id: r.internal_id for r in reg.collect()}
        # last occurrence of "0" (row_idx=2 -> internal 2) wins
        assert m == {"0": 2, "5": 1}

    def test_strict_duplicate_fails(self, spark):
        from redisgraph_bulk_loader_spark.exceptions import SchemaError
        from redisgraph_bulk_loader_spark.ids import detect_duplicates

        df = spark.createDataFrame(
            [("0", "a"), ("5", "b"), ("0", "c")], "ext_id string, name string"
        )
        with pytest.raises(SchemaError):
            detect_duplicates(df, ["ext_id"], strict=True)
        # skip mode passes through
        assert detect_duplicates(df, ["ext_id"], strict=False).count() == 3


class TestStrictSpans:
    def test_strict_mode_raises_inline(self, spark):
        # a doc violating the span-sequence invariant (offsets out of
        # order) must fail the job in strict mode — inline raise_error,
        # no separate validation pass
        bad = spark.createDataFrame(
            [("d-bad", [("text", "x", None, 5), ("text", "y", None, 1)])],
            "doc_id string, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )
        with pytest.raises(Exception, match="span-sequence violation"):
            build_graph(spark, bad, alias_table(spark), None,
                        strict_spans=True)

    def test_strict_mode_passes_clean_corpus(self, spark, docs):
        res = build_graph(spark, docs.limit(20), alias_table(spark), None,
                          strict_spans=True)
        assert res["triples"].count() > 0


class TestFullResumeShortCircuit:
    def test_completed_build_rerun_reads_only(self, spark, tmp_path):
        """A rerun over unchanged input against a fully-completed
        catalog must short-circuit to catalog reads: identical results,
        no new snapshots, no new lineage entries."""
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.plans import build_graph
        from redisgraph_bulk_loader_spark.sources import (
            alias_table, synthesize_documents,
        )

        docs = synthesize_documents(spark, 80, seed=11, partitions=2)
        cat = GraphCatalog(spark, str(tmp_path / "fr_cat"))
        first = build_graph(spark, docs, alias_table(spark), cat)
        t1 = sorted(tuple(r) for r in first["triples"].collect())
        n_lineage = len(cat.lineage())
        snaps = {t: len(cat.snapshots(t))
                 for t in ("mentions", "nodes", "edges", "triples")}

        second = build_graph(spark, docs, alias_table(spark), cat)
        t2 = sorted(tuple(r) for r in second["triples"].collect())
        assert t1 == t2
        assert sorted(tuple(r) for r in second["nodes"].collect()) == \
            sorted(tuple(r) for r in first["nodes"].collect())
        assert len(cat.lineage()) == n_lineage  # nothing re-ran
        assert {t: len(cat.snapshots(t))
                for t in snaps} == snaps  # nothing re-written
        # derived registries still come back
        assert second["labels"].count() == first["labels"].count()
        assert second["rel_types"].count() == first["rel_types"].count()


class TestJobBudget:
    #: Spark jobs one catalog build_graph starts over this corpus (every
    #: size gate on its small side); kg builds repeat their job count
    #: exactly, so any added job fails here
    BUILD_JOBS = 38

    def test_build_and_resume_job_counts(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.cache import release_pins
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        def jobs(fn):
            sc = spark.sparkContext._jsc.sc()
            j0 = int(sc.dagScheduler().nextJobId())
            fn()
            return int(sc.dagScheduler().nextJobId()) - j0

        docs = synthesize_documents(spark, 200, seed=7, partitions=2)
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        build = jobs(lambda: build_graph(spark, docs, alias_table(spark), cat))
        release_pins()
        fp = jobs(lambda: GraphCatalog.fingerprint_df(
            docs.select("doc_id", "spans")))
        resume = jobs(lambda: build_graph(spark, docs, alias_table(spark),
                                          cat))
        assert build <= self.BUILD_JOBS
        assert resume == fp
