"""Operator-level tests: endpoint resolution, dedup family,
similarity, connected components, skew ops, streaming merge, catalog
resume. Reference semantics citations inline.
"""

import os

import pytest
from pyspark.sql import functions as F

from redisgraph_bulk_loader_spark.canon import connected_components
from redisgraph_bulk_loader_spark.exceptions import CSVError
from redisgraph_bulk_loader_spark.materialize import GraphCatalog
from redisgraph_bulk_loader_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_dup_pairs,
)
from redisgraph_bulk_loader_spark.operators.endpoints import resolve_endpoints
from redisgraph_bulk_loader_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucketed_topk,
)
from redisgraph_bulk_loader_spark.operators.skew import salted_join, two_phase_count
from redisgraph_bulk_loader_spark.streaming import incremental_graph_update


# ---------------------------------------------------------------------------
# Endpoint resolution (J1/P3)
# ---------------------------------------------------------------------------

class TestEndpoints:
    @pytest.fixture()
    def registry(self, spark):
        return spark.createDataFrame(
            [("0", 0), ("5", 1), ("3", 2)], "ext_id string, internal_id long"
        )

    def test_resolve(self, spark, registry):
        edges = spark.createDataFrame(
            [("0", "3"), ("5", "3")], "src_id string, dst_id string"
        )
        out = resolve_endpoints(edges, registry)
        got = sorted((r.src_internal, r.dst_internal) for r in out.collect())
        assert got == [(0, 2), (1, 2)]

    def test_unknown_endpoint_strict_raises(self, spark, registry):
        # relation_type.py:74-88: KeyError unless skip_invalid_edges.
        # Default strict check is inline (raise_error at action time,
        # zero extra jobs); the message matches the reference's.
        edges = spark.createDataFrame(
            [("0", "99")], "src_id string, dst_id string"
        )
        out = resolve_endpoints(edges, registry, skip_invalid=False)
        with pytest.raises(Exception, match="non-existent identifier"):
            out.collect()

    def test_strict_check_survives_partial_projection(self, spark, registry):
        """ADVICE r2: the inline guard is fused into BOTH internal-id
        columns, so projecting only dst_internal (column pruning drops
        src_internal and any check riding it) still raises."""
        edges = spark.createDataFrame(
            [("99", "3")], "src_id string, dst_id string"
        )
        out = resolve_endpoints(edges, registry, skip_invalid=False)
        with pytest.raises(Exception, match="non-existent identifier"):
            out.select("dst_internal").collect()

    def test_unknown_endpoint_strict_eager_raises(self, spark, registry):
        edges = spark.createDataFrame(
            [("0", "99")], "src_id string, dst_id string"
        )
        with pytest.raises(CSVError):
            resolve_endpoints(edges, registry, skip_invalid=False,
                              eager_check=True)

    def test_unknown_endpoint_skip_drops(self, spark, registry):
        edges = spark.createDataFrame(
            [("0", "99"), ("5", "3")], "src_id string, dst_id string"
        )
        out = resolve_endpoints(edges, registry, skip_invalid=True)
        assert out.count() == 1

    def test_salted_matches_broadcast(self, spark, registry):
        edges = spark.createDataFrame(
            [("0", "3"), ("5", "3"), ("0", "0")], "src_id string, dst_id string"
        )
        a = sorted(
            (r.src_internal, r.dst_internal)
            for r in resolve_endpoints(edges, registry).collect()
        )
        b = sorted(
            (r.src_internal, r.dst_internal)
            for r in resolve_endpoints(
                edges, registry, broadcast_registry=False
            ).collect()
        )
        assert a == b


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

class TestDedup:
    @pytest.fixture()
    def docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),  # exact dup
                (3, "the quick brown fox jumps over a lazy dog"),  # near dup
                (4, "completely different content about spark engines"),
                (5, "  The   quick brown fox jumps over the lazy dog "),  # ws/case dup
            ],
            "doc_id long, text string",
        )

    def test_exact(self, spark, docs):
        kept = sorted(r.doc_id for r in exact_dedup(docs, "doc_id", "text").collect())
        assert kept == [1, 3, 4]  # 2 and 5 are exact dups of 1 (normalized)

    def test_ngram_jaccard(self, spark, docs):
        pairs = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got and (1, 5) in got and (2, 5) in got
        assert (3, 4) not in got and (1, 4) not in got

    def test_minhash_portable_mode_agrees(self, spark, docs):
        """Portable (md5 seed-mix, string buckets) and default
        (xxhash64) families both catch the clear duplicates, and the
        verified jaccard values are hash-independent."""
        a = {(r.id_a, r.id_b): r.jaccard_sim for r in minhash_lsh_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5).collect()}
        b = {(r.id_a, r.id_b): r.jaccard_sim for r in minhash_lsh_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5, portable=True).collect()}
        for pair in [(1, 2), (1, 5), (2, 5)]:
            assert pair in a and pair in b
            assert abs(a[pair] - b[pair]) < 1e-12

    def test_minhash_lsh_finds_near_dups(self, spark, docs):
        pairs = minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=0.5)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got  # identical docs always collide
        assert all(4 not in p for p in got)

    def test_simhash(self, spark, docs):
        pairs = simhash_dup_pairs(docs, "doc_id", "text", max_hamming=3)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        assert (1, 2) in got
        assert all(4 not in p for p in got)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

class TestSimilarity:
    @pytest.fixture()
    def emb(self, spark):
        import random

        rnd = random.Random(7)
        rows = []
        for i in range(60):
            rows.append((i, [rnd.gauss(0, 1) for _ in range(16)]))
        # vec 61 = near-copy of vec 0
        base = rows[0][1]
        rows.append((61, [x + 0.01 for x in base]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_brute_force_topk(self, spark, emb):
        q = emb.filter(F.col("vec_id") == 0)
        out = brute_force_topk(emb, q, k=3, vec_col="embedding").collect()
        assert out[0].neighbor_id == 61  # planted near-copy is rank 1
        assert [r.rank for r in out] == [1, 2, 3]

    def test_lsh_recalls_planted_neighbor(self, spark, emb):
        q = emb.filter(F.col("vec_id") == 0)
        out = lsh_bucketed_topk(
            emb, q, k=3, bits=4, dim=16, probe_bits=4, vec_col="embedding"
        ).collect()
        assert out and out[0].neighbor_id == 61

    def test_self_join_finds_planted_pairs_only(self, spark, emb):
        from redisgraph_bulk_loader_spark.operators.similarity import (
            ann_self_join_pairs,
        )

        # plant scaled copies of vecs 1..3: cosine == 1, every band
        # collides (signs are scale-invariant) -> guaranteed recall
        copies = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
            (F.col("vec_id") + 1000).alias("vec_id"),
            F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
        )
        corpus = emb.select("vec_id", "embedding").unionByName(copies)
        got = {
            (r.id_a, r.id_b)
            for r in ann_self_join_pairs(
                corpus, threshold=0.99, bits=8, bands=4, dim=16
            ).collect()
        }
        assert {(1, 1001), (2, 1002), (3, 1003)} <= got
        # vec 61 is a near-copy of vec 0 (cos ~1) and may appear; no
        # other pair reaches 0.99
        extras = got - {(1, 1001), (2, 1002), (3, 1003)}
        assert extras <= {(0, 61)}

    def test_signature_width_guard(self, spark, emb):
        """Signatures pack into one long: more than 64 hyperplanes, or
        more bands than bits (zero-width bands, every vector in bucket
        0), raise instead of silently running a different geometry."""
        from redisgraph_bulk_loader_spark.operators.similarity import (
            ann_self_join_pairs,
        )

        with pytest.raises(ValueError):
            ann_self_join_pairs(emb, bits=128, dim=16)
        with pytest.raises(ValueError):
            ann_self_join_pairs(emb, bits=4, bands=8, dim=16)
        with pytest.raises(ValueError):
            lsh_bucketed_topk(emb, emb.limit(1), bits=65, dim=16)


# ---------------------------------------------------------------------------
# Connected components
# ---------------------------------------------------------------------------

class TestConnectedComponents:
    def test_components_match_python_bfs(self, spark):
        import random

        rnd = random.Random(3)
        edges = set()
        for _ in range(120):
            edges.add((rnd.randrange(60), rnd.randrange(60)))
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "u long, v long")
        # driver_threshold=0 forces the distributed star loop — the
        # driver union-find gate would otherwise answer trivially here
        got = {
            r.node: r.component
            for r in connected_components(df, driver_threshold=0).collect()
        }
        # pure-python union-find oracle
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        expected = {}
        for a, b in edges:
            expected[a] = find(a)
            expected[b] = find(b)
        # normalize: component representative = min member
        comp_min = {}
        for n, c in expected.items():
            comp_min.setdefault(c, n)
            comp_min[c] = min(comp_min[c], n)
        expected = {n: comp_min[c] for n, c in expected.items()}
        assert got == expected

    def test_two_components(self, spark):
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "u long, v long"
        )
        got = {r.node: r.component for r in connected_components(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_driver_gate_matches_distributed(self, spark):
        import random

        rnd = random.Random(11)
        edges = list({(rnd.randrange(80), rnd.randrange(80))
                      for _ in range(150)})
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "u long, v long")
        fast = {r.node: r.component
                for r in connected_components(df).collect()}
        dist = {r.node: r.component
                for r in connected_components(df, driver_threshold=0).collect()}
        assert fast == dist

    def test_empty_edges(self, spark):
        df = spark.createDataFrame([], "u long, v long")
        assert connected_components(df).count() == 0


def _union_find_min(pairs):
    """Python oracle: {id: smallest id in its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class TestMinIdComponents:
    """canon.components.min_id_components: the one min-id CC primitive
    behind connected_components, canonicalize and dedup clustering."""

    @staticmethod
    def _pairs(id_type):
        import random

        rnd = random.Random(7)
        raw = [(rnd.randrange(70), rnd.randrange(70)) for _ in range(90)]
        raw += [(200, 200), (5, 5)]  # self-pairs: 200 only registers
        if id_type == "long":
            return raw
        # unpadded: "n10" < "n9", so reps must follow string order
        return [(f"n{a}", f"n{b}") for a, b in raw]

    @pytest.mark.parametrize("id_type", ["long", "string"])
    @pytest.mark.parametrize("threshold", [None, 0])
    def test_matches_union_find_oracle(self, spark, id_type, threshold):
        from redisgraph_bulk_loader_spark.canon.components import (
            min_id_components,
        )

        pairs = self._pairs(id_type)
        df = spark.createDataFrame(pairs, f"a {id_type}, b {id_type}")
        kw = {} if threshold is None else {"driver_threshold": threshold}
        out = min_id_components(df, "a", "b", **kw)
        in_type = df.schema["a"].dataType
        assert [(f.name, f.dataType) for f in out.schema.fields] == [
            ("id", in_type), ("rep", in_type)]
        rows = out.collect()
        got = {r.id: r.rep for r in rows}
        assert len(rows) == len(got)  # one row per id
        assert got == _union_find_min(pairs)
        self_only = 200 if id_type == "long" else "n200"
        assert got[self_only] == self_only

    @pytest.mark.parametrize("id_type", ["long", "string"])
    @pytest.mark.parametrize("threshold", [None, 0])
    def test_empty_typed_input(self, spark, id_type, threshold):
        from redisgraph_bulk_loader_spark.canon.components import (
            min_id_components,
        )

        df = spark.createDataFrame([], f"a {id_type}, b {id_type}")
        kw = {} if threshold is None else {"driver_threshold": threshold}
        out = min_id_components(df, "a", "b", **kw)
        assert out.collect() == []
        in_type = df.schema["a"].dataType
        assert [f.dataType for f in out.schema.fields] == [in_type, in_type]


# ---------------------------------------------------------------------------
# Skew ops
# ---------------------------------------------------------------------------

class TestSkew:
    def test_two_phase_count_equals_plain(self, spark):
        df = spark.range(0, 10000).withColumn(
            "k",
            F.when(F.col("id") % 100 < 90, F.lit("hub")).otherwise(
                (F.col("id") % 7).cast("string")
            ),
        )
        plain = {r.k: r["count"] for r in df.groupBy("k").count().collect()}
        salted = {r.k: r.n for r in two_phase_count(df, ["k"]).collect()}
        assert salted == plain

    def test_salted_join_equals_plain(self, spark):
        fact = spark.range(0, 5000).withColumn("k", F.col("id") % 10)
        dim = spark.range(0, 10).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("val")
        )
        plain = sorted(
            (r.id, r.val) for r in fact.join(dim, "k").select("id", "val").collect()
        )
        salted = sorted(
            (r.id, r.val)
            for r in salted_join(fact, dim, ["k"], salt=4)
            .select("id", "val").collect()
        )
        assert salted == plain


# ---------------------------------------------------------------------------
# Streaming-style merge + catalog resume
# ---------------------------------------------------------------------------

class TestIncrementalUpdate:
    def test_merge_idempotent(self, spark):
        # test_bulk_update.py:28-81 CREATE/MERGE idempotency
        base = spark.createDataFrame(
            [("0", "a"), ("5", "b")], "ext_id string, name string"
        )
        upd = spark.createDataFrame(
            [("5", "B2"), ("3", "c")], "ext_id string, name string"
        )
        once = incremental_graph_update(base, upd, ["ext_id"])
        twice = incremental_graph_update(once, upd, ["ext_id"])
        m = {r.ext_id: r.name for r in twice.collect()}
        assert m == {"0": "a", "5": "B2", "3": "c"}
        assert once.count() == twice.count() == 3
        # overlapping ranges: updated keys take the new value, untouched
        # keys keep theirs, unmatched keys are inserted
        base = spark.createDataFrame(
            [(str(i), f"v{i}") for i in range(50)], "ext_id string, name string"
        )
        upd = spark.createDataFrame(
            [(str(i), f"new{i}") for i in range(30, 80)],
            "ext_id string, name string",
        )
        m = {r.ext_id: r.name
             for r in incremental_graph_update(base, upd, ["ext_id"]).collect()}
        assert len(m) == 80
        assert m["40"] == "new40" and m["10"] == "v10"


class TestCatalogResume:
    def test_stage_skip_on_same_fingerprint(self, spark, tmp_path):
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        df = spark.range(0, 100).withColumn("v", F.col("id") * 2)
        fp = GraphCatalog.fingerprint_df(df)
        assert not cat.is_complete("stage1", fp)
        cat.write("t1", df, stage="stage1", input_fingerprint=fp)
        assert cat.is_complete("stage1", fp)
        # different input -> not complete
        fp2 = GraphCatalog.fingerprint_df(df.filter(F.col("id") < 50))
        assert not cat.is_complete("stage1", fp2)
        # data round-trips
        assert cat.read("t1").count() == 100
        assert cat.lineage()[0]["row_count"] == 100

    def test_append_mode_unions_with_current(self, spark, tmp_path):
        """ADVICE r2: append must not replace the table with the delta.
        The new snapshot is current ∪ delta; prior snapshots remain
        time-travelable."""
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.write("t", spark.range(0, 10))
        cat.write("t", spark.range(10, 15), mode="append")
        assert cat.read("t").count() == 15
        assert sorted(r.id for r in cat.read("t").collect()) == list(range(15))
        assert cat.read_at("t", 0).count() == 10
        # append to a not-yet-existing table is a plain first write
        cat.write("t2", spark.range(3), mode="append")
        assert cat.read("t2").count() == 3
        with pytest.raises(ValueError, match="mode"):
            cat.write("t", spark.range(1), mode="ignore")

    def test_pipeline_fingerprint_covers_span_content(self, spark, tmp_path):
        """ADVICE r2: re-running build_graph over a corpus whose spans
        changed but doc_ids did not must NOT reuse the stale mentions
        checkpoint."""
        from redisgraph_bulk_loader_spark.plans import build_graph
        from redisgraph_bulk_loader_spark.sources import (
            alias_table,
            synthesize_documents,
        )

        docs = synthesize_documents(spark, 60, seed=42)
        changed = docs.withColumn(
            "spans",
            F.transform(
                "spans",
                lambda s: s.withField(
                    "text", F.concat(s["text"], F.lit(" CHANGED"))
                ),
            ),
        )
        fp1 = GraphCatalog.fingerprint_df(docs.select("doc_id", "spans"))
        fp2 = GraphCatalog.fingerprint_df(changed.select("doc_id", "spans"))
        assert fp1 != fp2
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        build_graph(spark, docs, alias_table(spark), cat)
        n_snaps = len(cat.snapshots("mentions"))
        build_graph(spark, docs, alias_table(spark), cat)
        # unchanged input resumes (no new mentions snapshot)
        assert len(cat.snapshots("mentions")) == n_snaps
        build_graph(spark, changed, alias_table(spark), cat)
        # changed spans under the same doc_ids re-extract
        assert len(cat.snapshots("mentions")) == n_snaps + 1


class TestCatalogReads:
    @staticmethod
    def _nodes(spark):
        return spark.range(40).select(
            F.col("id").alias("internal_id"),
            F.when(F.col("id") % 3 == 0, "place").otherwise("entity")
            .alias("label"),
            F.concat(F.lit("e"), F.col("id").cast("string")).alias("ext_id"),
        )

    def test_read_starts_no_job(self, spark, tmp_path):
        """The snapshot's recorded schema spares a read its
        schema-inference job."""
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.write("nodes", self._nodes(spark), partition_by=["label"])
        sc = spark.sparkContext._jsc.sc()
        j0 = int(sc.dagScheduler().nextJobId())
        df = cat.read("nodes")
        assert int(sc.dagScheduler().nextJobId()) == j0
        assert df.count() == 40

    def test_read_schema_equals_inferred(self, spark, tmp_path):
        """Same schema as an inferring read, column order included:
        partition columns last, every field nullable."""
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.write("nodes", self._nodes(spark), partition_by=["label"])
        cat.write("plain", self._nodes(spark))
        for table in ("nodes", "plain"):
            inferred = spark.read.parquet(
                os.path.join(cat.path(table), "_snap_0"))
            assert cat.read(table).schema == inferred.schema
        assert cat.read("nodes").columns == ["internal_id", "ext_id", "label"]
        got = sorted(tuple(r) for r in cat.read("nodes").collect())
        assert got == sorted(
            (r.internal_id, r.ext_id, r.label)
            for r in self._nodes(spark).collect())

    def test_zero_row_snapshot_reads_back(self, spark, tmp_path):
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.write("nodes", self._nodes(spark).limit(0), partition_by=["label"])
        df = cat.read("nodes")
        assert df.count() == 0
        assert set(df.columns) == {"internal_id", "label", "ext_id"}

    def test_record_index_racing_write_keeps_both(self, spark, tmp_path,
                                                  monkeypatch):
        """record_index reads the manifest while a write of another
        table is about to commit: the manifest lock makes the commit
        wait, so neither change is lost."""
        import threading
        import time

        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        data_written = threading.Event()
        index_read = threading.Event()
        counts = GraphCatalog._partition_counts
        manifest = GraphCatalog._manifest

        def paused_counts(path):
            # the data files have landed; the commit comes next
            data_written.set()
            index_read.wait(10)
            return counts(path)

        def slow_manifest(self):
            m = manifest(self)
            if threading.current_thread().name == "indexer":
                index_read.set()
                time.sleep(1.0)  # the writer tries to commit meanwhile
            return m

        monkeypatch.setattr(GraphCatalog, "_partition_counts",
                            staticmethod(paused_counts))
        monkeypatch.setattr(GraphCatalog, "_manifest", slow_manifest)

        def index():
            data_written.wait(60)
            cat.record_index("entity", "name")

        indexer = threading.Thread(target=index, name="indexer")
        indexer.start()
        cat.write("t", spark.range(5))
        indexer.join()
        assert cat.exists("t")
        assert [(i["label"], i["property"])
                for i in cat.requested_indexes()] == [("entity", "name")]


class TestDedupAssignments:
    """Full dedup composition: pairs -> CC -> survivor. VERDICT r2
    items: CC node ids must be collision-free (dense longs, not
    xxhash64(id)), and the cluster-representative join must be
    size-gated (never an unconditional broadcast)."""

    _DOCS = [
        ("d1", "alpha beta gamma delta epsilon zeta"),
        ("d2", "alpha beta gamma delta epsilon eta"),
        ("d3", "one two three four five six"),
        ("d4", "one two three four five seven"),
        ("d5", "nine one two three four five seven"),
        ("d6", "completely different words entirely here now"),
    ]
    _EXPECT = {"d1": "d1", "d2": "d1", "d3": "d3", "d4": "d3",
               "d5": "d3", "d6": "d6"}

    def _run(self, spark, **kw):
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
        )

        docs = spark.createDataFrame(self._DOCS, "doc_id string, text string")
        out = dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                                method="exact", **kw)
        return {r.doc_id: r.rep_id for r in out.collect()}

    def test_chain_clusters_and_identity(self, spark):
        assert self._run(spark) == self._EXPECT

    def test_embedding_assignments_cluster_planted_copies(self, spark):
        """Vector twin of the text composition: scaled copies (same
        direction, sign-invariant signatures -> banding recall 1)
        must collapse onto the original min id; unrelated vectors
        survive as themselves; chains a~b, b~c merge through CC."""
        import random

        from redisgraph_bulk_loader_spark.operators.dedup import (
            embedding_dedup_assignments,
        )

        rnd = random.Random(11)
        base = [[rnd.gauss(0, 1) for _ in range(64)] for _ in range(6)]
        rows = [(i, base[i]) for i in range(6)]
        # copies of vec 0 at two scales (a~b and b~c both jaccard the
        # same direction: one component {0, 100, 200})
        rows += [(100, [x * 1.01 for x in base[0]]),
                 (200, [x * 0.99 for x in base[0]])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        m = {r.vec_id: r.rep_id
             for r in embedding_dedup_assignments(emb, threshold=0.9).collect()}
        assert m[0] == 0 and m[100] == 0 and m[200] == 0
        # independent 64-d gaussians: pairwise |cos| ~ N(0, 1/8) —
        # nowhere near the 0.9 threshold, so each survives as itself
        assert all(m[i] == i for i in range(1, 6))
        assert len(m) == 8

    def test_exact_collapse_bounds_banding(self, spark):
        """Planted boilerplate group: k identical copies must not ride
        the band join as k members (O(k^2 * bands) candidates). The
        collapse pre-merges them to one representative, the band join
        sees exactly one row for the group, and the fan-out still
        assigns every copy to the min id — byte-identical to the
        un-collapsed path's answer."""
        from redisgraph_bulk_loader_spark.cache import release_pins
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
            exact_dedup,
            minhash_lsh_dedup_pairs,
        )

        k = 300
        rows = (
            [(f"c{i:04d}", "the same boilerplate page content here")
             for i in range(k)]
            + [("n0", "alpha beta gamma delta epsilon zeta"),
               ("n1", "alpha beta gamma delta epsilon eta"),
               ("u0", "completely different words entirely here now")]
        )
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        on = dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                               collapse_exact=True)
        off = dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                                collapse_exact=False)
        got_on = sorted((r.doc_id, r.rep_id) for r in on.collect())
        got_off = sorted((r.doc_id, r.rep_id) for r in off.collect())
        assert got_on == got_off
        m = dict(got_on)
        assert all(m[f"c{i:04d}"] == "c0000" for i in range(k))
        assert m["n0"] == "n0" and m["n1"] == "n0" and m["u0"] == "u0"
        # Quadratic exposure is real: banding the raw corpus emits
        # every intra-group pair; banding the collapsed reps (what the
        # operator now feeds the band join — same fingerprint/min-id
        # collapse as exact_dedup) emits none.
        raw_pairs = minhash_lsh_dedup_pairs(
            docs, "doc_id", "text", threshold=0.5)
        assert raw_pairs.filter(
            F.col("id_a").startswith("c") & F.col("id_b").startswith("c")
        ).count() == k * (k - 1) // 2
        rep_pairs = minhash_lsh_dedup_pairs(
            exact_dedup(docs, "doc_id", "text"), "doc_id", "text",
            threshold=0.5)
        assert rep_pairs.filter(F.col("id_a").startswith("c")).count() == 0
        release_pins()

    def test_exact_collapse_degenerate_inputs(self, spark):
        """Degenerate inputs behave identically on both paths: null
        texts merge with each other (their [null] shingle arrays hash
        and jaccard-compare identically in the banding path, so the
        collapse groups them under a sentinel fingerprint), empty
        texts merge (identical [''] shingle set), and a null id
        survives as itself (pairs can't contain it — id_a < id_b is
        null-false — so the collapse must not put it under a group
        rep either)."""
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
        )

        rows = [("a", None), ("b", None), ("c", ""), ("d", ""),
                (None, "alpha beta gamma delta"), ("e", "alpha beta gamma delta")]
        docs = spark.createDataFrame(rows, "doc_id string, text string")
        for collapse in (True, False):
            m = {r.doc_id: r.rep_id
                 for r in dedup_assignments(
                     docs, "doc_id", "text", threshold=0.5,
                     collapse_exact=collapse).collect()}
            assert m["a"] == "a" and m["b"] == "a", (collapse, m)
            assert m["c"] == "c" and m["d"] == "c", (collapse, m)
            assert m[None] is None and m["e"] == "e", (collapse, m)

    def test_collision_independent_node_ids(self, spark, monkeypatch):
        """Planted total hash collision: if CC node ids were derived
        from xxhash64(id), mapping every id to the same long would weld
        all clusters into one. Dense-id assignment must be immune."""
        import pyspark.sql.functions as SF

        lit = SF.lit  # capture before patching anything
        monkeypatch.setattr(
            SF, "xxhash64", lambda *cols: lit(42).cast("long")
        )
        assert self._run(spark) == self._EXPECT

    def test_canonicalize_collision_independent(self, spark, monkeypatch):
        """canonicalize's sameAs CC must not depend on hashing either:
        a shared surface merges e1/e2; e3 stays separate — even with a
        totally colliding xxhash64."""
        import pyspark.sql.functions as SF

        from redisgraph_bulk_loader_spark.plans.pipeline import canonicalize

        lit = SF.lit
        monkeypatch.setattr(
            SF, "xxhash64", lambda *cols: lit(42).cast("long")
        )
        aliases = spark.createDataFrame(
            [("Ada", "e1"), ("Ada", "e2"), ("Bob", "e3")],
            "surface string, canonical_id string",
        )
        # driver_threshold=0 forces the distributed path — the gate's
        # driver union-find never touches hashing to begin with
        remap = {r.canonical_id: r.canon_id
                 for r in canonicalize(aliases, driver_threshold=0).collect()}
        assert remap == {"e1": "e1", "e2": "e1", "e3": "e3"}

    def test_canonicalize_gate_strategies_agree(self, spark):
        """Driver-gated and distributed canonicalization must produce
        the same remap (same criterion as the CC gate test)."""
        from redisgraph_bulk_loader_spark.plans.pipeline import canonicalize

        aliases = spark.createDataFrame(
            [("a", "e1"), ("a", "e2"), ("b", "e2"), ("b", "e5"),
             ("c", "e3"), ("d", "e4"), ("d", "e3"), ("e", "e9")],
            "surface string, canonical_id string",
        )
        drv = sorted(tuple(r) for r in canonicalize(aliases).collect())
        dist = sorted(tuple(r) for r in canonicalize(
            aliases, driver_threshold=0).collect())
        assert drv == dist
        assert dict(drv)["e5"] == "e1" and dict(drv)["e4"] == "e3"

    def test_canonicalize_null_contract(self, spark):
        """A null surface links nothing (not one shared "None" surface)
        and a null canonical_id is dropped — identically on both gate
        branches."""
        from redisgraph_bulk_loader_spark.plans.pipeline import canonicalize

        aliases = spark.createDataFrame(
            [(None, "e1"), (None, "e2"), ("x", "e3"), ("a", None),
             ("a", "e4")],
            "surface string, canonical_id string",
        )
        for kw in ({}, {"driver_threshold": 0}):
            remap = {r.canonical_id: r.canon_id
                     for r in canonicalize(aliases, **kw).collect()}
            assert remap == {"e1": "e1", "e2": "e2", "e3": "e3",
                             "e4": "e4"}, kw

    def test_odd_column_names(self, spark):
        """An id column whose name is not a bare SQL identifier must
        survive the driver-side cluster frame (its schema is built from
        the pairs' StructField, not a DDL string)."""
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog today"),
             (3, "an entirely different sentence about graphs")],
            "`doc id` long, text string",
        )
        got = {r["doc id"]: r["rep_id"]
               for r in dedup_assignments(docs, "doc id", "text").collect()}
        assert got == {1: 1, 2: 1, 3: 3}

    def test_link_vocab_gate_strategies_agree(self, spark):
        """link_mentions' resolved-vocabulary broadcast is size-gated;
        the shuffle fallback must produce identical links."""
        from redisgraph_bulk_loader_spark.link import link_mentions

        mentions = spark.createDataFrame(
            [("d1", 0, "Ada", "knows", "Bob", "entity"),
             ("d2", 0, "ada", "likes", "img://x", "media"),
             ("d3", 0, "Nobody", "sees", "Ada", "entity")],
            "doc_id string, span_offset int, subj_surface string, "
            "pred string, obj_surface string, obj_kind string",
        )
        aliases = spark.createDataFrame(
            [("Ada", "e1"), ("Bob", "e2")], "surface string, canonical_id string"
        )
        cols = ["doc_id", "subj_cid", "obj_cid"]
        a = sorted(tuple(r) for r in link_mentions(
            mentions, aliases, broadcast_vocab=True).select(*cols).collect())
        b = sorted(tuple(r) for r in link_mentions(
            mentions, aliases, broadcast_vocab=False).select(*cols).collect())
        assert a == b
        assert ("d1", "e1", "e2") in a


class TestCatalogFormats:
    def test_unknown_format_rejected(self, spark, tmp_path):
        with pytest.raises(ValueError, match="fmt"):
            GraphCatalog(spark, str(tmp_path / "c"), fmt="orc")

    def test_iceberg_roundtrip_or_guard(self, spark, tmp_path):
        """With the Iceberg runtime present, the catalog writes/reads
        Iceberg tables; without it (this sandbox), the guard raises a
        typed error and the production path is at least import-tested."""
        if not GraphCatalog.iceberg_available(spark):
            with pytest.raises(RuntimeError, match="Iceberg"):
                GraphCatalog(spark, str(tmp_path / "c"), fmt="iceberg")
            pytest.skip(
                "Iceberg runtime not on the classpath (no network in "
                "this sandbox). Runnable recipe on a connected host: "
                "build the session with "
                ".config('spark.jars.packages', 'org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:1.10.0') "
                "(the Spark-4/Scala-2.13 runtime matching pyspark "
                "4.x), plus .config('spark.sql.catalog.spark_catalog', "
                "'org.apache.iceberg.spark.SparkSessionCatalog'), "
                ".config('spark.sql.catalog.spark_catalog.type', "
                "'hadoop') and "
                ".config('spark.sql.catalog.spark_catalog.warehouse', "
                "'<dir>'); then this test runs the branch below: "
                "GraphCatalog(fmt='iceberg') writes each snapshot via "
                "DataFrameWriterV2 createOrReplace and reads it back "
                "with spark.table — expected result: write 5 rows, "
                "read 5 rows."
            )
        cat = GraphCatalog(spark, str(tmp_path / "c"), fmt="iceberg")
        cat.write("t", spark.range(5))
        assert cat.read("t").count() == 5

    def test_iceberg_write_chain_reaches_source_resolution(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r4 #4 offline smoke (write half): with availability
        forced, the fmt='iceberg' branch must build and SUBMIT the full
        DataFrameWriterV2 chain — namespace DDL, snapshot ident,
        observe wrapper, partitionedBy — and fail only at Spark's data
        source lookup (the one thing the sandbox lacks). An error
        earlier (bad ident, malformed partition spec, analysis failure
        in our chain) fails this test."""
        if GraphCatalog.iceberg_available(spark):
            pytest.skip("Iceberg present: the real roundtrip test covers this")
        monkeypatch.setattr(GraphCatalog, "iceberg_available",
                            staticmethod(lambda _s: True))
        cat = GraphCatalog(
            spark, str(tmp_path / "c"), fmt="iceberg",
            iceberg_catalog="spark_catalog", iceberg_namespace="default",
        )
        df = spark.range(5).select(
            F.col("id"), (F.col("id") % 2).cast("string").alias("p"))
        with pytest.raises(Exception, match="(?i)iceberg") as ei:
            cat.write("t", df, partition_by=["p"])
        # provider-lookup failure, not an analysis error in our chain
        assert any(tok in str(ei.value)
                   for tok in ("DATA_SOURCE_NOT_FOUND",
                               "Failed to find data source",
                               "Failed to find the data source"))
        # the failed write must not have committed a manifest entry
        assert not cat.exists("t")

    def test_iceberg_read_path_roundtrip_via_v2_catalog(
        self, spark, tmp_path, monkeypatch
    ):
        """VERDICT r4 #4 offline smoke (read half): the iceberg-branch
        read path (spark.table over the snapshot ident) executes for
        real against Spark's bundled JDBC V2 catalog on embedded Derby
        — a table created under the exact ident cat.write would use
        resolves through GraphCatalog.read/read_at."""
        import json as _json
        import time as _time

        spark.conf.set(
            "spark.sql.catalog.rgblsmoke",
            "org.apache.spark.sql.execution.datasources.v2.jdbc."
            "JDBCTableCatalog")
        spark.conf.set("spark.sql.catalog.rgblsmoke.url",
                       "jdbc:derby:memory:rgblsmoke;create=true")
        spark.conf.set("spark.sql.catalog.rgblsmoke.driver",
                       "org.apache.derby.jdbc.EmbeddedDriver")
        monkeypatch.setattr(GraphCatalog, "iceberg_available",
                            staticmethod(lambda _s: True))
        # __init__ runs CREATE NAMESPACE against the V2 catalog for real
        cat = GraphCatalog(spark, str(tmp_path / "c"), fmt="iceberg",
                           iceberg_catalog="rgblsmoke")
        df = spark.range(5).select(F.col("id"))
        # materialize the snapshot table under the ident the writer
        # would use (the JDBC catalog rejects using()/partitionedBy, so
        # the write half is covered by the source-resolution smoke)
        df.writeTo(cat._iceberg_ident("t", 0)).createOrReplace()
        m = cat._manifest()
        m["tables"]["t"] = {
            "snapshots": [{"ts": _time.time(), "rows": 5, "mode": "overwrite",
                           "snapshot": 0, "delta_base": None,
                           "partition_by": [],
                           "input_fingerprint": None,
                           "schema": df.schema.json()}],
            "current": 0,
        }
        cat._save_manifest(m)
        assert cat.read("t").count() == 5
        assert cat.read_at("t", 0).count() == 5
        assert sorted(r.id for r in cat.read("t").collect()) == [0, 1, 2, 3, 4]


class TestIvfAnn:
    def _emb(self, spark, n=120, dim=8):
        import random

        rnd = random.Random(7)
        rows = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_full_probe_equals_brute_force(self, spark):
        """With n_probe == n_centroids every cell is probed, so IVF
        must return exactly the brute-force top-k."""
        from redisgraph_bulk_loader_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        emb = self._emb(spark)
        queries = emb.filter(F.col("vec_id") < 4)
        a = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=8, dim=8).collect())
        b = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                   brute_force_topk(emb, queries, k=5).collect())
        assert a == b

    def test_multi_iter_lloyd_full_probe_still_exact(self, spark):
        """VERDICT r3 #6: n_iters>1 runs extra Lloyd steps (same job
        shape each); with full probing the result must still equal
        brute force for ANY centroid geometry."""
        from redisgraph_bulk_loader_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        emb = self._emb(spark)
        queries = emb.filter(F.col("vec_id") < 3)
        a = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf_topk(
            emb, queries, k=5, n_centroids=8, n_probe=8, dim=8,
            n_iters=3).collect())
        b = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                   brute_force_topk(emb, queries, k=5).collect())
        assert a == b

    def test_banded_recall_near_identical(self, spark):
        """VERDICT r5 #3 (measured-recall harness): at the documented
        bits=64/bands=4 operating point, planted near-identical pairs
        (cos ~0.99) must be recovered with recall >= 0.85 (measured
        0.92 at n=100k in plans/r06/ann_recall_table.json; banding
        probability per pair is n-independent, so the small-n test
        pins the same quantity). Deterministic: fixed seeds both for
        the corpus and the operator's hyperplanes."""
        import sys as _sys
        sys_path_root = "/root/repo"
        if sys_path_root not in _sys.path:
            _sys.path.insert(0, sys_path_root)
        from tools.ann_recall import planted_corpus

        from redisgraph_bulk_loader_spark.operators.similarity import (
            ann_self_join_pairs,
        )

        ids, V, planted = planted_corpus(3000, 400, 64, (0.99,), seed=5)
        import pandas as pd

        corpus = spark.createDataFrame(
            pd.DataFrame({"vec_id": ids,
                          "embedding": [r.tolist() for r in V]}),
            schema="vec_id long, embedding array<double>")
        found = {(r["id_a"], r["id_b"]) for r in ann_self_join_pairs(
            corpus, threshold=0.9, bits=64, bands=4, dim=64).collect()}
        eligible = [(a, b) for a, b, c in planted if c >= 0.9]
        recall = sum(p in found for p in eligible) / len(eligible)
        assert recall >= 0.85, recall

    def test_wide_dim_lloyd_full_probe_exact(self, spark):
        """VERDICT r5 #2: the Lloyd centroid update must survive real
        embedding widths. The posexplode + groupBy(cell, pos) mean is
        ONE aggregate regardless of dim (the old per-dimension
        F.avg(_v[i]) array built dim Catalyst aggregates — a
        planner/codegen blowup at 768+); run a dim=768 fit with
        multiple Lloyd steps and check exactness under full probing."""
        from redisgraph_bulk_loader_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        emb = self._emb(spark, n=150, dim=768)
        queries = emb.filter(F.col("vec_id") < 2)
        a = sorted((r.query_id, r.rank, r.neighbor_id) for r in ivf_topk(
            emb, queries, k=3, n_centroids=4, n_probe=4, dim=768,
            n_iters=2).collect())
        b = sorted((r.query_id, r.rank, r.neighbor_id) for r in
                   brute_force_topk(emb, queries, k=3).collect())
        assert a == b

    def test_partial_probe_subset_and_shape(self, spark):
        """Partial probing returns k ranked rows per query drawn only
        from probed cells; ranks are 1..k and cosine-descending."""
        from redisgraph_bulk_loader_spark.operators.similarity import ivf_topk

        emb = self._emb(spark)
        queries = emb.filter(F.col("vec_id") < 4)
        rows = ivf_topk(emb, queries, k=5, n_centroids=8, n_probe=2,
                        dim=8).collect()
        per_q = {}
        for r in rows:
            per_q.setdefault(r.query_id, []).append(r)
        for q, rs in per_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
            sims = [r.cos_sim for r in rs]
            assert sims == sorted(sims, reverse=True)
            assert all(r.neighbor_id != q for r in rs)


class TestCatalogMaintenance:
    def test_expire_snapshots(self, spark, tmp_path):
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        for hi in (10, 20, 30):
            cat.write("t", spark.range(hi))
        assert cat.read("t").count() == 30
        n = cat.expire_snapshots("t", keep_last=1)
        assert n == 2
        assert cat.read("t").count() == 30  # current untouched
        with pytest.raises(ValueError, match="expired"):
            cat.read_at("t", 0)
        # commit log survives for lineage
        assert len(cat.snapshots("t")) == 3

    def test_compact_rewrites_files(self, spark, tmp_path):
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        cat.write("t", spark.range(1000).repartition(16))
        files_before = GraphCatalog._partition_counts(
            cat._snapshot_path("t", 0))
        assert len(files_before) == 16
        cat.compact("t", target_files=2)
        entry = cat._manifest()["tables"]["t"]
        files_after = GraphCatalog._partition_counts(
            cat._snapshot_path("t", entry["current"]))
        assert len(files_after) == 2
        assert cat.read("t").count() == 1000
        assert cat.read_at("t", 0).count() == 1000  # time travel intact

    def test_materialize_index_sorts_rowgroups(self, spark, tmp_path):
        """After materialize_index, rows of the indexed label are
        ordered by the property inside each file — parquet min/max
        stats become selective (the range-index analogue)."""
        import json as _json

        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        rows = [(i, "P", f"k{i}", _json.dumps({"age": str(100 - i)}))
                for i in range(50)]
        nodes = spark.createDataFrame(
            rows, "internal_id long, label string, key string, props_json string"
        ).repartition(4)
        cat.write("nodes", nodes, partition_by=["label"])
        cat.record_index("P", "age")
        cat.materialize_index("nodes", "P", "age")
        got = [r.age for r in cat.read("nodes").select(
            F.get_json_object("props_json", "$.age").alias("age")).collect()]
        by_file = cat.read("nodes").select(
            F.get_json_object("props_json", "$.age").alias("age"),
            F.input_file_name().alias("f"),
        ).collect()
        per_file = {}
        for r in by_file:
            per_file.setdefault(r.f, []).append(r.age)
        for ages in per_file.values():
            assert ages == sorted(ages)
        assert sorted(got) == sorted(r.age for r in by_file)


class TestReviewRegressions:
    """Round-3 self-review findings pinned as tests."""

    def test_expire_keep_last_zero(self, spark, tmp_path):
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        for hi in (5, 10, 15):
            cat.write("t", spark.range(hi))
        assert cat.expire_snapshots("t", keep_last=0) == 2
        assert cat.read("t").count() == 15

    def test_append_over_legacy_flat_layout(self, spark, tmp_path):
        """A pre-snapshot flat table (files directly in the table dir,
        no manifest snapshots) must survive an append."""
        import json as _json

        root = tmp_path / "cat"
        cat = GraphCatalog(spark, str(root))
        spark.range(100).write.parquet(str(root / "t"))
        m = cat._manifest()
        m["tables"]["t"] = {"snapshots": []}
        cat._save_manifest(m)
        assert cat.read("t").count() == 100  # flat fallback read
        cat.write("t", spark.range(100, 110), mode="append")
        assert cat.read("t").count() == 110

    def test_edge_merge_duplicate_key_no_fanout(self, spark):
        """Registry used by edge creation is last-wins per key: a
        duplicate node identifier must not fan one edge row into two
        edges (review finding, verified pre-fix)."""
        from redisgraph_bulk_loader_spark.plans.updater import merge_edges

        nodes = spark.createDataFrame(
            [(0, "L", "0", "{}"), (1, "L", "5", "{}"), (2, "L", "0", "{}")],
            "internal_id long, label string, key string, props_json string",
        )
        proj = spark.createDataFrame(
            [("0", "5", 0)], "src_key string, dst_key string, row_idx long"
        )
        _, edges = merge_edges(nodes, None, proj, rel_type="R",
                               dest_mode="none")
        got = [(r.src_internal, r.dst_internal) for r in edges.collect()]
        assert got == [(2, 1)]  # latest '0' row, exactly one edge


class TestPersistHygiene:
    """VERDICT r3 #3: package persists go through the cache registry;
    eager-checkpoint compositions release their internal caches, and a
    long-lived session can reclaim the rest with release_pins()."""

    def test_pin_scope_releases(self, spark):
        from redisgraph_bulk_loader_spark.cache import (
            PinScope, pin, pinned_count, release_pins,
        )

        release_pins()
        df = spark.range(10)
        with PinScope():
            pinned = pin(df)
            assert pinned.storageLevel.useMemory
            assert pinned_count() == 1
        assert not pinned.storageLevel.useMemory
        assert pinned_count() == 0
        # no-scope pins land in the session registry
        p2 = pin(spark.range(5))
        assert pinned_count() == 1
        assert release_pins() == 1
        assert not p2.storageLevel.useMemory

    def test_dedup_assignments_no_storage_growth(self, spark):
        """Repeated dedup_assignments calls must not accumulate cached
        frames: the shingle-set cache is released after the eager pair
        checkpoint; only the checkpoint RDD of each returned result may
        remain (freed when the result is garbage-collected)."""
        import gc

        from redisgraph_bulk_loader_spark.cache import (
            pinned_count, release_pins,
        )
        from redisgraph_bulk_loader_spark.operators.dedup import (
            dedup_assignments,
        )

        docs = spark.createDataFrame(
            TestDedupAssignments._DOCS, "doc_id string, text string")
        release_pins()
        gc.collect()
        base = spark.sparkContext._jsc.getPersistentRDDs().size()
        for _ in range(3):
            out = dedup_assignments(docs, "doc_id", "text", threshold=0.5,
                                    method="minhash")
            assert out.count() == 6
            assert pinned_count() == 0  # internal caches released
            del out
        # Each run legitimately leaves <=2 eager-checkpoint RDDs (pair
        # set + injective node ids) until the async ContextCleaner
        # reclaims the dropped results; the shingle-set CACHE must not
        # add a third lingering entry per run (pre-fix: 3/run).
        # Reclamation is asynchronous (ContextCleaner drains a queue of
        # GC'd references), so poll with a deadline rather than
        # asserting on one snapshot — a straggler from a prior test or
        # an undrained queue is not storage growth.
        import time as _time

        deadline = _time.time() + 30
        while True:
            gc.collect()
            after = spark.sparkContext._jsc.getPersistentRDDs().size()
            if after - base <= 2 * 3 or _time.time() > deadline:
                break
            _time.sleep(1)
        assert after - base <= 2 * 3

    def test_build_graph_with_catalog_releases_all(self, spark, tmp_path):
        from redisgraph_bulk_loader_spark.cache import (
            pinned_count, release_pins,
        )
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.plans import build_graph
        from redisgraph_bulk_loader_spark.sources import (
            alias_table, synthesize_documents,
        )

        release_pins()
        docs = synthesize_documents(spark, 60, seed=3, partitions=2)
        cat = GraphCatalog(spark, str(tmp_path / "hyg_cat"))
        res = build_graph(spark, docs, alias_table(spark), cat)
        assert res["triples"].count() > 0
        # catalog mode: every result rebound to a table read; nothing
        # stays pinned
        assert pinned_count() == 0

    def test_build_graph_without_catalog_adopts_pins(self, spark):
        from redisgraph_bulk_loader_spark.cache import (
            pinned_count, release_pins,
        )
        from redisgraph_bulk_loader_spark.plans import build_graph
        from redisgraph_bulk_loader_spark.sources import (
            alias_table, synthesize_documents,
        )

        release_pins()
        docs = synthesize_documents(spark, 60, seed=3, partitions=2)
        res = build_graph(spark, docs, alias_table(spark))
        assert res["triples"].count() > 0
        assert pinned_count() > 0  # session pins back the lazy results
        assert release_pins() > 0
        assert pinned_count() == 0


class TestCatalogDeltaAppend:
    """ADVICE r3: streaming callers write O(batch) per commit, not a
    full table rewrite — mode='delta' snapshots hold only the delta;
    reads union the chain; time travel, expire, and compact respect
    chain semantics."""

    def _cat(self, spark, tmp_path, name="dcat"):
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        return GraphCatalog(spark, str(tmp_path / name))

    def test_delta_chain_read_and_write_volume(self, spark, tmp_path):
        import glob
        import os as _os

        cat = self._cat(spark, tmp_path)
        mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "v")
        cat.write("t", mk(0, 100), mode="overwrite")
        cat.write("t", mk(100, 110), mode="delta")
        cat.write("t", mk(110, 115), mode="delta")
        # reads union the chain
        assert cat.read("t").count() == 115
        assert sorted(r.v for r in cat.read("t").collect()) == list(range(115))
        # each delta snapshot holds ONLY its batch (O(batch) volume)
        import pyarrow.parquet as pq

        def snap_rows(idx):
            files = glob.glob(
                str(tmp_path / "dcat" / "t" / f"_snap_{idx}" / "**" / "*.parquet"),
                recursive=True)
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        assert snap_rows(1) == 10
        assert snap_rows(2) == 5
        # time travel resolves mid-chain state
        assert cat.read_at("t", 1).count() == 110
        assert cat.read_at("t", 0).count() == 100

    def test_delta_expire_keeps_chain(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path, "ecat")
        mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "v")
        cat.write("t", mk(0, 10), mode="overwrite")   # 0 base
        cat.write("t", mk(10, 12), mode="delta")      # 1
        cat.write("t", mk(12, 13), mode="delta")      # 2 current
        n = cat.expire_snapshots("t", keep_last=1)
        # current is a delta: its whole chain (0,1,2) must survive
        assert n == 0
        assert cat.read("t").count() == 13

    def test_delta_compact_collapses_chain(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path, "ccat")
        mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "v")
        cat.write("t", mk(0, 10), mode="overwrite")
        cat.write("t", mk(10, 20), mode="delta")
        cat.compact("t", target_files=2)
        snaps = cat.snapshots("t")
        assert snaps[-1].get("mode") == "overwrite"
        assert cat.read("t").count() == 20
        # after compaction the old chain is expirable
        cat.expire_snapshots("t", keep_last=1)
        assert cat.read("t").count() == 20

    def test_streaming_ingestion_writes_deltas(self, spark, tmp_path):
        """stream_documents_to_graph lands one delta per micro-batch."""
        from redisgraph_bulk_loader_spark.link import build_alias_dim
        from redisgraph_bulk_loader_spark.sources import (
            alias_table, synthesize_documents,
        )
        from redisgraph_bulk_loader_spark.streaming.stream import (
            stream_documents_to_graph,
        )

        src = tmp_path / "sdocs"
        src.mkdir()
        synthesize_documents(spark, 20, seed=1, partitions=1) \
            .coalesce(1).write.parquet(str(src / "b1"))
        cat = self._cat(spark, tmp_path, "scat")
        dim = build_alias_dim(alias_table(spark))
        schema = spark.read.parquet(str(src / "b1")).schema
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = stream_documents_to_graph(
            stream, dim, cat, checkpoint_dir=str(tmp_path / "sckpt"))
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        n1 = cat.read("triples_stream").count()
        assert n1 > 0
        # second batch: new snapshot is a delta, table accumulates
        synthesize_documents(spark, 20, seed=2, partitions=1) \
            .coalesce(1).write.parquet(str(src / "b2"))
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q2 = stream_documents_to_graph(
            stream, dim, cat, checkpoint_dir=str(tmp_path / "sckpt"))
        try:
            q2.awaitTermination(120)
        finally:
            q2.stop()
        snaps = cat.snapshots("triples_stream")
        assert snaps[-1]["mode"] == "delta"
        assert cat.read("triples_stream").count() > n1


class TestDeltaAfterRollback:
    def test_delta_extends_rolled_back_state(self, spark, tmp_path):
        """code-review r4: a delta written after rollback must extend
        the CURRENT (rolled-back) snapshot via its explicit base
        pointer, exactly like mode='append' — not resurrect the
        physically-previous snapshot's rows."""
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        cat = GraphCatalog(spark, str(tmp_path / "rbcat"))
        mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "v")
        cat.write("t", mk(0, 100), mode="overwrite")   # s0
        cat.write("t", mk(100, 110), mode="append")    # s1: 110 rows
        cat.rollback("t", 0)
        cat.write("t", mk(200, 205), mode="delta")     # s2, base = s0
        got = sorted(r.v for r in cat.read("t").collect())
        assert got == list(range(100)) + list(range(200, 205))
        # time travel: s1 still shows the pre-rollback append state
        assert cat.read_at("t", 1).count() == 110
        # expire keeps the chain (s0) because current s2 depends on it
        cat.expire_snapshots("t", keep_last=1)
        assert cat.read("t").count() == 105


class TestPinScopeExceptionPath:
    def test_scope_releases_on_exception(self, spark):
        """code-review r4: a failure inside a PinScope must still
        unpersist the scope's pins — a failed job must not strand
        cached frames outside the registry."""
        from redisgraph_bulk_loader_spark.cache import (
            PinScope, pin, pinned_count,
        )

        df = spark.range(20)
        with pytest.raises(RuntimeError, match="boom"):
            with PinScope():
                pinned = pin(df)
                assert pinned.storageLevel.useMemory
                raise RuntimeError("boom")
        assert not pinned.storageLevel.useMemory
        assert pinned_count() == 0

    def test_scope_is_thread_local(self, spark):
        """ADVICE r4: a pin made on thread B while thread A holds an
        open PinScope must NOT be captured (and released) by A's scope
        — it lands in the session registry and survives A's scope
        exit."""
        import threading

        from redisgraph_bulk_loader_spark.cache import (
            PinScope, pin, release_pins,
        )

        release_pins()
        other_pin = []

        def worker():
            other_pin.append(pin(spark.range(10)))

        with PinScope() as scope:
            mine = pin(spark.range(5))
            t = threading.Thread(target=worker)
            t.start()
            t.join()
            assert scope.frames == [mine]  # B's pin not captured
        assert not mine.storageLevel.useMemory       # scoped: released
        assert other_pin[0].storageLevel.useMemory   # B's: still cached
        assert release_pins() == 1                   # in session registry


class TestStreamingAutoCompact:
    def test_compact_every_bounds_chain(self, spark, tmp_path):
        """compact_every=K collapses the delta chain once it exceeds K
        members, bounding read fan-in for long-running streams."""
        from redisgraph_bulk_loader_spark.link import build_alias_dim
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.sources import (
            alias_table, synthesize_documents,
        )
        from redisgraph_bulk_loader_spark.streaming.stream import (
            stream_documents_to_graph,
        )

        src = tmp_path / "acdocs"
        src.mkdir()
        cat = GraphCatalog(spark, str(tmp_path / "accat"))
        dim = build_alias_dim(alias_table(spark))
        schema = None
        counts = []
        for i in range(3):
            synthesize_documents(spark, 15, seed=i, partitions=1) \
                .coalesce(1).write.parquet(str(src / f"b{i}"))
            if schema is None:
                schema = spark.read.parquet(str(src / "b0")).schema
            stream = spark.readStream.schema(schema).parquet(str(src / "*"))
            q = stream_documents_to_graph(
                stream, dim, cat, checkpoint_dir=str(tmp_path / "acckpt"),
                compact_every=2)
            try:
                q.awaitTermination(120)
            finally:
                q.stop()
            counts.append(cat.read("triples_stream").count())
        assert counts[0] < counts[1] < counts[2]  # accumulates
        entry = cat._manifest()["tables"]["triples_stream"]
        chain = cat._delta_chain(entry, entry["current"])
        assert len(chain) <= 2  # chain bounded by compaction
        # compaction produced a full snapshot carrying all rows
        modes = [s["mode"] for s in entry["snapshots"]]
        assert "overwrite" in modes

    def test_long_stream_chain_stays_bounded_at_depth(self, spark, tmp_path):
        """VERDICT r4 #8: 55 streaming-shaped delta commits (the exact
        write+compact sequence stream_documents_to_graph's foreachBatch
        runs per micro-batch). At EVERY depth: the chain never exceeds
        compact_every, each delta snapshot carries only its own batch's
        rows (O(batch) write volume), the read plan's scan fan-in stays
        bounded by the chain (not the 55 commits), and the accumulated
        row count is exact."""
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        cat = GraphCatalog(spark, str(tmp_path / "deepcat"))
        K, BATCH, N = 5, 20, 55
        for b in range(N):
            df = spark.range(b * BATCH, (b + 1) * BATCH).select(
                F.col("id").alias("v"))
            cat.write("t", df, mode="delta", stage=f"stream_batch_{b}")
            cat.compact_if_chain_exceeds("t", K)
            assert cat.delta_chain_length("t") <= K
            entry = cat._manifest()["tables"]["t"]
            last = entry["snapshots"][-1]
            if last["mode"] == "delta":
                assert last["rows"] == BATCH  # O(batch), never cumulative
        assert cat.read("t").count() == N * BATCH
        # content fidelity, not just bookkeeping: the chained read must
        # return every written value exactly once
        assert sorted(r.v for r in cat.read("t").collect()) \
            == list(range(N * BATCH))
        # scan fan-in == chain members, not commit count
        plan = cat.read("t")._jdf.queryExecution().optimizedPlan().toString()
        n_scans = plan.count("Relation")
        assert n_scans <= K + 1, (n_scans, plan[:500])
        # chain survives a rollback + further deltas without unbounding
        cat.rollback("t", -2)
        for b in range(N, N + 8):
            df = spark.range(b * BATCH, (b + 1) * BATCH).select(
                F.col("id").alias("v"))
            cat.write("t", df, mode="delta", stage=f"stream_batch_{b}")
            cat.compact_if_chain_exceeds("t", K)
            assert cat.delta_chain_length("t") <= K


class TestCorpusCuration:
    def test_gates_and_survivorship(self, spark):
        from redisgraph_bulk_loader_spark.operators.curation import (
            curate_corpus,
        )

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog and runs"),
                (2, "the quick brown fox jumps over the lazy dog and runs"),
                (3, "tiny"),                      # fails min_tokens
                (4, "и было это по-русски written mostly русскими буквами здесь"),
                (5, "a good long document with many of the common stop "
                    "words that is also quite readable and plain"),
            ],
            "doc_id long, text string",
        )
        out = curate_corpus(docs, min_quality=0.3, min_tokens=5,
                            max_tokens=100, dedup="exact")
        kept = sorted(r.doc_id for r in out.collect())
        # 2 is an exact dup of 1 (loses survivorship); 3 too short;
        # 4 not latin; 1 and 5 pass every gate
        assert kept == [1, 5]
        cols = out.columns
        assert cols == ["doc_id", "n_tokens", "quality", "lang_guess"]

    def test_minhash_mode_drops_near_dups(self, spark):
        from redisgraph_bulk_loader_spark.operators.curation import (
            curate_corpus,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (2, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup
                (3, "one two three four five six seven eight nine ten"),
            ],
            "doc_id long, text string",
        )
        out = curate_corpus(docs, min_quality=0.0, min_tokens=1,
                            max_tokens=100, dedup="minhash",
                            dedup_threshold=0.5)
        assert sorted(r.doc_id for r in out.collect()) == [1, 3]
        none = curate_corpus(docs, min_quality=0.0, min_tokens=1,
                             max_tokens=100, dedup="none")
        assert none.count() == 3

    def test_cluster_content_survives_when_rep_fails_gate(self, spark):
        """code-review r4: filter-then-dedup — when a near-dup
        cluster's min-id member fails a gate, a gate-passing member
        must survive instead of the whole cluster's content vanishing."""
        from redisgraph_bulk_loader_spark.operators.curation import (
            curate_corpus,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta"),              # fails min_tokens=5
                (2, "alpha beta gamma delta epsilon"),      # near-dup of 1, passes
                (3, "one two three four five six seven"),
            ],
            "doc_id long, text string",
        )
        out = curate_corpus(docs, min_quality=0.0, min_tokens=5,
                            max_tokens=100, dedup="minhash",
                            dedup_threshold=0.5)
        kept = sorted(r.doc_id for r in out.collect())
        # doc 1 fails the token gate; doc 2 (its near-dup) must still
        # survive — dedup runs over gate-passers only
        assert kept == [2, 3]


    def test_null_id_contract(self, spark):
        """A null-id document is dropped by both dedup modes (no
        survivorship without an id) and kept by dedup='none'."""
        from redisgraph_bulk_loader_spark.operators.curation import (
            curate_corpus,
        )

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta eta theta"),
                (None, "one two three four five six seven eight nine ten"),
                (3, "spark engines shuffle joins across many worker cores"),
            ],
            "doc_id long, text string",
        )

        def kept(mode):
            return sorted(
                (r.doc_id for r in curate_corpus(
                    docs, min_quality=0.0, min_tokens=1, max_tokens=100,
                    dedup=mode).collect()),
                key=lambda i: (i is not None, i))

        assert kept("exact") == [1, 3]
        assert kept("minhash") == [1, 3]
        assert kept("none") == [None, 1, 3]


class TestRepetitionStats:
    @staticmethod
    def _py_stats(text, ns=(1, 5)):
        import re
        from collections import Counter

        lines = [ln.strip() for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        lc = Counter(lines)
        stats = {
            "n_lines": sum(lc.values()),
            "n_dup_lines": sum(c - 1 for c in lc.values()),
            "dup_line_chars": sum((c - 1) * len(ln) for ln, c in lc.items()),
            "total_line_chars": sum(c * len(ln) for ln, c in lc.items()),
        }
        toks = [t for t in re.split("[^a-z0-9]+", text.lower()) if t]
        for n in ns:
            grams = [" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1)]
            gc = Counter(grams)
            stats[f"gram{n}_top_chars"] = max(
                (c * len(g) for g, c in gc.items()), default=0)
            stats[f"gram{n}_dup_chars"] = sum(
                c * len(g) for g, c in gc.items() if c >= 2)
            stats[f"gram{n}_total_chars"] = sum(
                c * len(g) for g, c in gc.items())
        return stats

    @pytest.fixture(scope="class")
    def planted(self, spark):
        docs = [
            (0, "spam spam spam spam spam spam spam spam"),
            (1, "line one\nline two\nline one\n line one \nline three"),
            (2, "all words here are fully distinct tokens friend"),
            (3, ""),
            (4, "ab"),
            (5, "x y z x y z x y z x y w"),
            (6, "Mixed CASE, punct!! mixed case punct\nMixed CASE, punct!!"),
        ]
        return spark.createDataFrame(docs, "doc_id long, text string")

    def test_matches_python_reference(self, planted):
        from redisgraph_bulk_loader_spark.operators.curation import (
            repetition_stats,
        )

        out = repetition_stats(planted).collect()
        rows = {r["doc_id"]: r.asDict() for r in out}
        texts = {r["doc_id"]: r["text"] for r in planted.collect()}
        assert set(rows) == set(texts)
        for did, text in texts.items():
            expected = self._py_stats(text)
            got = {k: v for k, v in rows[did].items() if k != "doc_id"}
            assert got == expected, (did, got, expected)

    def test_layout_invariant(self, planted):
        from redisgraph_bulk_loader_spark.operators.curation import (
            repetition_stats,
        )

        a = repetition_stats(planted)
        b = repetition_stats(planted.repartition(5))
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    def test_repetitive_doc_flags_high(self, planted):
        """The policy a user would write: the all-spam doc shows ~100%
        dup word mass, the all-distinct doc shows 0."""
        from redisgraph_bulk_loader_spark.operators.curation import (
            repetition_stats,
        )

        rows = {r["doc_id"]: r for r in repetition_stats(planted).collect()}
        assert rows[0]["gram1_dup_chars"] == rows[0]["gram1_total_chars"] > 0
        assert rows[2]["gram1_dup_chars"] == 0
        assert rows[3]["n_lines"] == 0 and rows[3]["gram1_total_chars"] == 0
        # planted duplicate lines: doc 1 has 'line one' three times
        assert rows[1]["n_dup_lines"] == 2
        assert rows[1]["dup_line_chars"] == 2 * len("line one")

    def test_repetition_gate_composes(self, spark):
        """max_dup_gram_frac drops the planted repetitive doc and only
        it; None leaves the curation result unchanged."""
        from redisgraph_bulk_loader_spark.operators.curation import (
            curate_corpus,
        )

        good = ("the quick brown fox jumps over a lazy dog and then "
                "walks on with many more fully distinct words after it")
        spammy = ("the spam of spam and spam is spam for spam spam "
                  "spam spam spam spam spam spam spam spam spam spam")
        docs = spark.createDataFrame(
            [(1, good), (2, spammy), (3, good + " entirely new tail")],
            "doc_id long, text string",
        )
        kw = dict(min_quality=0.0, min_tokens=1, max_tokens=10**6,
                  dedup="exact")
        base = {r["doc_id"] for r in curate_corpus(docs, **kw).collect()}
        gated = {r["doc_id"] for r in curate_corpus(
            docs, max_dup_gram_frac=0.3, rep_ngram=1, **kw).collect()}
        assert base == {1, 2, 3}
        assert gated == {1, 3}

    def test_local_and_exploded_impls_agree(self, spark, planted):
        """The zero-shuffle fold and the exploded groupBy pipeline are
        algorithm twins — byte-equal output on the planted fixture and
        on a random-ish corpus, for several n."""
        from redisgraph_bulk_loader_spark.operators.curation import (
            repetition_stats,
        )

        nulls = spark.createDataFrame(
            [(100, None), (101, "plain text")], "doc_id long, text string")
        soup = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", *[
                F.concat(F.lit("w"), F.pmod(
                    F.xxhash64(F.col("id"), F.lit(j)), F.lit(40)
                ).cast("string"))
                for j in range(25)
            ]).alias("text"),
        )
        for df in (planted, soup, nulls):
            a = repetition_stats(df, impl="local", ngram_ns=(1, 2, 5))
            b = repetition_stats(df, impl="exploded", ngram_ns=(1, 2, 5))
            assert a.exceptAll(b).count() == 0
            assert b.exceptAll(a).count() == 0
        with pytest.raises(ValueError):
            repetition_stats(planted, impl="bogus")


class TestDedupLines:
    @staticmethod
    def _py_ref(rows, scope="global", sep="\n"):
        seen = set()
        out = {}
        for did, text in sorted(rows):
            if scope == "doc":
                seen = set()
            keep, removed = [], 0
            for ln in text.split(sep):
                if ln.strip() == "":
                    keep.append(ln)
                elif ln in seen:
                    removed += 1
                else:
                    seen.add(ln)
                    keep.append(ln)
            out[did] = (sep.join(keep), removed)
        return out

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        footer = "copyright footer all rights reserved"
        rows = [
            (0, f"alpha unique zero\n\n{footer}"),
            (1, f"beta unique one\nbeta unique one\n{footer}"),
            (2, f"{footer}\ngamma unique two\n  \n{footer}"),
            (3, ""),
            (4, footer),
            (5, "delta five\ndelta five"),
        ]
        return rows, spark.createDataFrame(rows, "doc_id long, text string")

    def test_global_matches_python_reference(self, corpus):
        from redisgraph_bulk_loader_spark.operators.dedup import dedup_lines

        rows, df = corpus
        expected = self._py_ref(rows, "global")
        got = {
            r["doc_id"]: (r["text"], r["n_lines_removed"])
            for r in dedup_lines(df).collect()
        }
        assert got == expected, (got, expected)
        # the planted footer survives exactly once, in doc 0
        assert "copyright" in got[0][0]
        assert all("copyright" not in got[i][0] for i in (1, 2, 4))

    def test_doc_scope_matches_python_reference(self, corpus):
        from redisgraph_bulk_loader_spark.operators.dedup import dedup_lines

        rows, df = corpus
        expected = self._py_ref(rows, "doc")
        got = {
            r["doc_id"]: (r["text"], r["n_lines_removed"])
            for r in dedup_lines(df, scope="doc").collect()
        }
        assert got == expected, (got, expected)
        # footer survives once PER DOC now
        assert "copyright" in got[4][0] and "copyright" in got[1][0]

    def test_layout_invariant_and_custom_sep(self, corpus):
        from redisgraph_bulk_loader_spark.operators.dedup import dedup_lines

        _, df = corpus
        a = dedup_lines(df)
        b = dedup_lines(df.repartition(7))
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        piped = df.select(
            "doc_id", F.regexp_replace("text", "\n", "|").alias("text"))
        c = {r["doc_id"]: r["text"]
             for r in dedup_lines(piped, line_sep="|").collect()}
        expect = {r["doc_id"]: r["text"].replace("\n", "|")
                  for r in a.collect()}
        assert c == expect
        with pytest.raises(ValueError):
            dedup_lines(df, scope="corpus")


class TestBoilerplateLines:
    def test_matches_python_reference(self, spark):
        from collections import Counter

        from redisgraph_bulk_loader_spark.operators.dedup import (
            boilerplate_lines,
        )

        footer = "all rights reserved"
        rows = [
            (0, f"alpha\n{footer}\nbeta"),
            (1, f"{footer}\n{footer}\nbeta"),
            (2, f"gamma\n{footer}"),
            (3, "alpha\n  \n"),
            (4, "solo line"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = [(r["line"], r["n_docs"], r["n_occurrences"])
               for r in boilerplate_lines(df, k=10).collect()]
        docs_per, occ_per = Counter(), Counter()
        for _, text in rows:
            lines = [ln.strip() for ln in text.split("\n") if ln.strip()]
            occ_per.update(lines)
            docs_per.update(set(lines))
        expect = sorted(
            ((ln, docs_per[ln], occ_per[ln]) for ln in docs_per
             if docs_per[ln] >= 2),
            key=lambda t: (-t[1], -t[2], t[0]),
        )
        assert got == expect
        assert got[0] == (footer, 3, 4)

    def test_k_cut_and_min_docs(self, spark):
        from redisgraph_bulk_loader_spark.operators.dedup import (
            boilerplate_lines,
        )

        df = spark.createDataFrame(
            [(i, "shared\nuniq%d" % i) for i in range(20)],
            "doc_id long, text string",
        )
        out = boilerplate_lines(df, k=5).collect()
        assert len(out) == 1 and out[0]["line"] == "shared"
        with pytest.raises(ValueError):
            boilerplate_lines(df, k=0)
