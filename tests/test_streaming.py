"""Structured Streaming ingestion test: file-source stream of events ->
foreachBatch micro-batched MERGE into a nodes table (the streaming
analogue of the reference's size-bounded update batches,
/root/reference/redisgraph_bulk_loader/bulk_update.py:106-122).
"""

import json
import os

from pyspark.sql import functions as F

from redisgraph_bulk_loader_spark.streaming import (
    incremental_graph_update,
    stream_events_to_graph,
)


def test_stream_to_graph_available_now(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    # two input files = at least two read units; availableNow drains all
    spark.createDataFrame(
        [(1, "u1", "signup"), (2, "u2", "signup")],
        "event_id long, user string, event_type string",
    ).write.json(os.path.join(src, "batch1"))
    spark.createDataFrame(
        [(3, "u1", "upgrade"), (4, "u3", "signup")],
        "event_id long, user string, event_type string",
    ).write.json(os.path.join(src, "batch2"))

    stream = (
        spark.readStream.schema("event_id long, user string, event_type string")
        .option("maxFilesPerTrigger", 1)
        .json(src + "/*")
    )

    def apply_batch(batch_df, batch_id):
        # MERGE user nodes: last event wins per user
        upd = batch_df.select(
            F.col("user").alias("ext_id"),
            F.col("event_type").alias("last_event"),
            F.col("event_id"),
        )
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            existing = spark.read.parquet(out)
        else:
            existing = spark.createDataFrame(
                [], "ext_id string, last_event string, event_id long"
            )
        merged = incremental_graph_update(
            existing, upd, ["ext_id"], order_col="event_id"
        )
        merged.write.mode("overwrite").parquet(out + ".tmp")
        spark.read.parquet(out + ".tmp").write.mode("overwrite").parquet(out)

    q = stream_events_to_graph(stream, apply_batch, checkpoint_dir=ckpt)
    try:
        q.awaitTermination(120)
    finally:
        q.stop()

    final = {r.ext_id: r.last_event for r in spark.read.parquet(out).collect()}
    assert final == {"u1": "upgrade", "u2": "signup", "u3": "signup"}


class TestStatefulSessionize:
    def test_sessions_span_micro_batches(self, spark, tmp_path):
        """A session crossing a micro-batch boundary is counted ONCE.
        Two separate availableNow runs share a checkpoint: the second
        run restores per-user state, so its emissions reflect events
        it never saw — proof the state carried."""
        from datetime import datetime, timedelta

        from redisgraph_bulk_loader_spark.streaming.stateful import (
            sessionize_stream,
        )

        base = datetime(2024, 1, 1)

        def ev(uid, minutes):
            return (uid, base + timedelta(minutes=minutes))

        schema = "user_id long, ts timestamp"
        src = tmp_path / "stream_src"
        src.mkdir()

        def run_once(qname):
            got = {}

            def sink(batch_df, _bid):
                for r in batch_df.collect():
                    got[r.user_id] = (r.n_sessions, r.n_events)

            stream = spark.readStream.schema(schema).parquet(str(src / "*"))
            q = (
                sessionize_stream(stream, gap_minutes=30)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()
            return got

        # run 1: u1 at 0,10; u2 at 0
        spark.createDataFrame([ev(1, 0), ev(1, 10), ev(2, 0)], schema) \
            .coalesce(1).write.parquet(str(src / "b1"))
        first = run_once("sess_run1")
        assert first[1] == (1, 2) and first[2] == (1, 1)

        # run 2 (state restored): u1 at 20 joins the OPEN session
        # (gap 10 < 30) and 200 opens a new one; u2 at 100 opens one
        spark.createDataFrame([ev(1, 20), ev(1, 200), ev(2, 100)], schema) \
            .coalesce(1).write.parquet(str(src / "b2"))
        second = run_once("sess_run2")
        assert second[1] == (2, 4)   # cumulative despite seeing 2 events
        assert second[2] == (2, 2)


class TestWatermarkWindowedAgg:
    def test_late_event_dropped_windows_finalize(self, spark, tmp_path):
        """Streaming windowed counts with a 10-minute watermark across
        two availableNow runs (shared checkpoint): an event arriving in
        the second run but behind the checkpointed watermark is
        DROPPED; finalized append-mode windows reflect on-time data."""
        from datetime import datetime, timedelta

        from redisgraph_bulk_loader_spark.streaming import (
            windowed_event_counts,
        )

        base = datetime(2024, 1, 1)

        def ev(minutes, etype="click"):
            return (base + timedelta(minutes=minutes), etype)

        schema = "ts timestamp, event_type string"
        src = tmp_path / "wsrc"
        src.mkdir()
        sink = str(tmp_path / "wsink")

        def run_once():
            stream = spark.readStream.schema(schema).parquet(str(src / "*"))
            q = (
                windowed_event_counts(stream, watermark="10 minutes")
                .writeStream.format("parquet")
                .option("path", sink)
                .outputMode("append")
                .option("checkpointLocation", str(tmp_path / "wckpt"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

        # run 1: window-0 events at 0:00,0:20; 2:00 event pushes the
        # watermark to 1:50 -> window 0 finalizes with n=2
        spark.createDataFrame([ev(0), ev(20), ev(120)], schema) \
            .coalesce(1).write.parquet(str(src / "b1"))
        run_once()
        # run 2: LATE event at 0:10 (behind the checkpointed watermark
        # -> dropped) + 5:00 event finalizes the 2:00 window
        spark.createDataFrame([ev(10), ev(300)], schema) \
            .coalesce(1).write.parquet(str(src / "b2"))
        run_once()

        rows = {
            r.win_start: r.n
            for r in spark.read.parquet(sink).collect()
        }
        assert rows.get(base) == 2                       # late drop held
        assert rows.get(base + timedelta(hours=2)) == 1  # finalized run 2


class TestPerPartitionLineage:
    def test_partition_counters_recorded(self, spark, tmp_path):
        """north_rule: per-partition lineage + counters — every write
        records per-output-file row counts summing to the stage total."""
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog

        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        df = spark.range(0, 1000).repartition(4)
        cat.write("t", df, stage="s", input_fingerprint="f")
        rec = cat.lineage()[-1]
        assert rec["row_count"] == 1000
        assert rec["n_partitions"] == 4
        assert sum(p["rows"] for p in rec["partitions"]) == 1000
        assert all(p["file"].endswith(".parquet") for p in rec["partitions"])


class TestStreamingKgIngestion:
    def test_two_run_incremental_triples(self, spark, tmp_path):
        """Document stream -> extract -> link -> per-batch catalog
        append across two availableNow runs with a shared checkpoint:
        the second run processes only the new batch (no reprocessing),
        and the accumulated triples table equals the batch pipeline's
        extract+link output over the full corpus."""
        from redisgraph_bulk_loader_spark.extract import extract_mentions
        from redisgraph_bulk_loader_spark.link import (
            build_alias_dim,
            link_mentions,
        )
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.sources import (
            alias_table,
            synthesize_documents,
        )
        from redisgraph_bulk_loader_spark.streaming import (
            stream_documents_to_graph,
        )

        docs = synthesize_documents(spark, 60, seed=42).persist()
        b1 = docs.filter(F.col("doc_id") < "doc-000000030")
        b2 = docs.filter(F.col("doc_id") >= "doc-000000030")
        src = tmp_path / "doc_src"
        src.mkdir()
        schema = docs.schema
        cat = GraphCatalog(spark, str(tmp_path / "cat"))
        dim = build_alias_dim(alias_table(spark))

        def run_once():
            stream = spark.readStream.schema(schema).parquet(str(src / "*"))
            q = stream_documents_to_graph(
                stream, dim, cat,
                checkpoint_dir=str(tmp_path / "ckpt"),
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

        b1.coalesce(1).write.parquet(str(src / "b1"))
        run_once()
        n1 = cat.read("triples_stream").count()
        assert n1 > 0

        b2.coalesce(1).write.parquet(str(src / "b2"))
        run_once()
        got = cat.read("triples_stream")

        expected = (
            link_mentions(extract_mentions(docs), dim=dim)
            .filter(F.col("subj_cid").isNotNull()
                    & F.col("obj_cid").isNotNull())
            .select("doc_id", F.col("subj_cid").alias("subj"), "pred",
                    F.col("obj_cid").alias("obj"))
        )
        a = sorted(tuple(r) for r in got.collect())
        b = sorted(tuple(r) for r in expected.collect())
        assert a == b and len(a) > n1

    def test_ingest_dedup_suppresses_replayed_documents(
        self, spark, tmp_path
    ):
        """``dedup_exact=True``: batch 2 replays batch 1's documents
        under NEW doc_ids (a re-crawl) plus one genuinely new
        document. The span-content-keyed ingest dedup drops the
        replays before extraction, so the accumulated table gains only
        the new document's triples — while a dedup-off control ingests
        the replayed content again."""
        from redisgraph_bulk_loader_spark.link import build_alias_dim
        from redisgraph_bulk_loader_spark.materialize import GraphCatalog
        from redisgraph_bulk_loader_spark.sources import (
            alias_table,
            synthesize_documents,
        )
        from redisgraph_bulk_loader_spark.streaming import (
            stream_documents_to_graph,
        )

        docs = synthesize_documents(spark, 30, seed=7).persist()
        b1 = docs.filter(F.col("doc_id") < "doc-000000020")
        replayed = (
            b1.withColumn(
                "doc_id", F.concat(F.lit("re-"), F.col("doc_id")))
        )
        fresh = docs.filter(F.col("doc_id") >= "doc-000000020")
        schema = docs.schema
        dim = build_alias_dim(alias_table(spark))

        def run(name, dedup):
            src = tmp_path / f"{name}_src"
            src.mkdir()
            cat = GraphCatalog(spark, str(tmp_path / f"{name}_cat"))

            def once():
                stream = spark.readStream.schema(schema).parquet(
                    str(src / "*"))
                q = stream_documents_to_graph(
                    stream, dim, cat,
                    checkpoint_dir=str(tmp_path / f"{name}_ckpt"),
                    dedup_exact=dedup,
                )
                try:
                    q.awaitTermination(120)
                finally:
                    q.stop()

            b1.coalesce(1).write.parquet(str(src / "b1"))
            once()
            n1 = cat.read("triples_stream").count()
            replayed.unionByName(fresh).coalesce(1).write.parquet(
                str(src / "b2"))
            once()
            return n1, cat.read("triples_stream")

        n1, deduped = run("dd", True)
        _, control = run("ctl", False)

        # dedup: batch 2 contributes only the fresh docs' triples
        dd_docs = {r.doc_id for r in deduped.select("doc_id")
                   .distinct().collect()}
        assert not any(d.startswith("re-") for d in dd_docs)
        assert deduped.count() > n1  # fresh doc did land
        # control ingests the replayed content a second time
        ctl_docs = {r.doc_id for r in control.select("doc_id")
                    .distinct().collect()}
        assert any(d.startswith("re-") for d in ctl_docs)
        assert control.count() > deduped.count()


class TestChunkOrderSessionize:
    def test_multi_chunk_batch_sorted_globally(self, spark, tmp_path):
        """Review finding: the group's micro-batch arrives as multiple
        Arrow chunks in FILE order; per-chunk sorting miscounts when a
        later chunk holds earlier timestamps. Force 2-row chunks and
        write one user's events out of time order."""
        from datetime import datetime, timedelta

        from redisgraph_bulk_loader_spark.streaming.stateful import (
            sessionize_stream,
        )

        prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
        try:
            base = datetime(2024, 1, 1)
            # file order: 100min, 101min, 0min, 1min, 102min, 2min
            # time-sorted: sessions = {0,1,2} and {100,101,102} -> 2
            minutes = [100, 101, 0, 1, 102, 2]
            rows = [(1, base + timedelta(minutes=m)) for m in minutes]
            schema = "user_id long, ts timestamp"
            src = tmp_path / "chunk_src"
            src.mkdir()
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(src / "b1"))
            got = {}

            def sink(batch_df, _bid):
                for r in batch_df.collect():
                    got[r.user_id] = (r.n_sessions, r.n_events)

            stream = spark.readStream.schema(schema).parquet(str(src / "*"))
            q = (
                sessionize_stream(stream, gap_minutes=30)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", str(tmp_path / "chunk_ckpt"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            finally:
                q.stop()
            assert got[1] == (2, 6)
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", prev)


class TestSessionizeCustomKeyColumn:
    def test_string_typed_renamed_user_col(self, spark, tmp_path):
        """ADVICE r3: the output key field must carry user_col's name
        and type from the input schema — a string-typed 'device' key
        previously failed Arrow conversion against the hardcoded
        'user_id long' output schema."""
        from datetime import datetime, timedelta

        from redisgraph_bulk_loader_spark.streaming.stateful import (
            sessionize_stream,
        )

        base = datetime(2024, 1, 1)
        schema = "device string, ts timestamp"
        src = tmp_path / "dev_src"
        src.mkdir()
        rows = [("dev-a", base), ("dev-a", base + timedelta(minutes=90)),
                ("dev-b", base)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / "b1"))

        got = {}

        def sink(batch_df, _bid):
            assert batch_df.columns == ["device", "n_sessions", "n_events"]
            for r in batch_df.collect():
                got[r.device] = (r.n_sessions, r.n_events)

        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        out = sessionize_stream(stream, user_col="device")
        assert out.schema["device"].dataType.typeName() == "string"
        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "dev_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        assert got == {"dev-a": (2, 2), "dev-b": (1, 1)}

    def test_tws_schema_derivation(self, spark):
        """The sessionizer's output schema contract is checkable
        without a stream: the key field keeps user_col's name and
        type."""
        from redisgraph_bulk_loader_spark.streaming.stateful import (
            _session_output_schema,
        )

        events = spark.createDataFrame(
            [], "device string, ts timestamp")
        out_schema = _session_output_schema(events, "device")
        key_field = out_schema.fields[0]
        assert key_field.name == "device"
        assert key_field.dataType.typeName() == "string"
        assert [f.name for f in out_schema.fields] == [
            "device", "n_sessions", "n_events"]


class TestStreamingDedup:
    def _run(self, spark, src, ckpt, emitted, **kw):
        from redisgraph_bulk_loader_spark.streaming.stateful import (
            dedup_stream,
        )

        def sink(batch_df, _bid):
            emitted.extend(
                (r.doc_id, r.text) for r in batch_df.collect())

        stream = spark.readStream.schema(
            "doc_id long, text string").parquet(str(src / "*"))
        q = (
            dedup_stream(stream, **kw)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    def test_cross_batch_suppression_min_id_survives(self, spark, tmp_path):
        """Within a batch the min-id row of a duplicate-content group
        survives (batch exact_dedup's window rule — note ' x ' and 'X'
        share a fingerprint via the normalizing doc_fingerprint);
        across availableNow runs the restored state suppresses
        re-occurrences even when the later id is smaller."""
        src = tmp_path / "src"
        src.mkdir()
        emitted = []
        spark.createDataFrame(
            [(5, "X"), (2, " x  "), (7, "Y")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / "b1"))
        self._run(spark, src, tmp_path / "ckpt", emitted)
        assert sorted(r[0] for r in emitted) == [2, 7]

        spark.createDataFrame(
            [(1, "X"), (9, "Z")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / "b2"))
        self._run(spark, src, tmp_path / "ckpt", emitted)
        assert sorted(r[0] for r in emitted) == [2, 7, 9]

    def test_single_batch_matches_batch_exact_dedup(self, spark, tmp_path):
        """One micro-batch of the stream == the batch operator on the
        same rows (same fingerprint, same min-id survivor rule)."""
        from redisgraph_bulk_loader_spark.operators.dedup import exact_dedup

        rows = [(4, "a b"), (3, "A  B"), (8, "c"), (6, None), (9, None)]
        src = tmp_path / "src"
        src.mkdir()
        emitted = []
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.parquet(str(src / "b1"))
        self._run(spark, src, tmp_path / "ckpt", emitted)
        want = sorted(
            r.doc_id for r in exact_dedup(df, "doc_id", "text").collect())
        assert sorted(r[0] for r in emitted) == want == [3, 6, 8]

    def test_key_col_spans_documents(self, spark, tmp_path):
        """``key_col`` deduplicates inputs without a flat text column:
        interleaved spans-documents keyed on the canonical JSON of the
        span sequence (the per-row invariant the pipeline preserves).
        Doc 20 repeats doc 10's span sequence exactly and is dropped;
        doc 30 differs only in one offset and survives."""
        from pyspark.sql import functions as F

        from redisgraph_bulk_loader_spark.streaming.stateful import (
            dedup_stream,
        )

        schema = (
            "doc_id long, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>"
        )
        s1 = [("text", "alpha", None, 0), ("image", None, "m/1.png", 5)]
        s3 = [("text", "alpha", None, 0), ("image", None, "m/1.png", 6)]
        src = tmp_path / "src"
        src.mkdir()
        spark.createDataFrame(
            [(10, s1), (20, list(s1)), (30, s3)], schema
        ).coalesce(1).write.parquet(str(src / "b1"))

        emitted = []

        def sink(batch_df, _bid):
            emitted.extend(r.doc_id for r in batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            dedup_stream(
                stream,
                key_col=F.md5(F.to_json(F.col("spans"))),
            )
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        assert sorted(emitted) == [10, 30]

    def test_ttl_expires_state_and_reemits(self, spark, tmp_path):
        """With state_ttl_ms, a fingerprint idle past the TTL is
        forgotten: a later re-occurrence emits again (bounded-state
        dedup tradeoff). Expiry fires on the first batch processed
        after the idle window — batch 2 carries unrelated content to
        trigger it, batch 3 re-introduces the content."""
        import time

        src = tmp_path / "src"
        src.mkdir()
        emitted = []
        kw = {"state_ttl_ms": 1}
        spark.createDataFrame(
            [(1, "A")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / "b1"))
        self._run(spark, src, tmp_path / "ckpt", emitted, **kw)
        assert [r[0] for r in emitted] == [1]

        time.sleep(1.0)  # >> 1 ms TTL
        spark.createDataFrame(
            [(50, "B")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / "b2"))
        self._run(spark, src, tmp_path / "ckpt", emitted, **kw)
        assert sorted(r[0] for r in emitted) == [1, 50]

        spark.createDataFrame(
            [(99, "A")], "doc_id long, text string"
        ).coalesce(1).write.parquet(str(src / "b3"))
        self._run(spark, src, tmp_path / "ckpt", emitted, **kw)
        assert sorted(r[0] for r in emitted) == [1, 50, 99]


class TestStatelessCurationOnStreams:
    def test_hash_sample_and_redaction_stream_equals_batch(
        self, spark, tmp_path
    ):
        """The stateless recipe ops (hash_sample filter, redact_pii
        projection) run unchanged inside Structured Streaming — they
        are pure row-wise/codegen transforms, so a streamed corpus
        must select and redact EXACTLY the rows the batch plan does,
        regardless of micro-batch boundaries (two input files =>
        at least two read units under availableNow)."""
        from redisgraph_bulk_loader_spark.functions.text import redact_pii
        from redisgraph_bulk_loader_spark.operators.mixing import (
            hash_sample,
        )

        src = tmp_path / "src"
        out = []
        rows = [
            (i, f"doc {i} mail u{i}@ex{i % 7}.org tel +1 555 010 {i:04d}")
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.filter("doc_id < 200").write.parquet(str(src / "a"))
        df.filter("doc_id >= 200").write.parquet(str(src / "b"))

        def xform(frame):
            return hash_sample(frame, "doc_id", 0.4).select(
                "doc_id", redact_pii(F.col("text")).alias("text"))

        stream = spark.readStream.schema(
            "doc_id long, text string").parquet(str(src / "*"))
        q = (
            xform(stream)
            .writeStream.foreachBatch(
                lambda b, _: out.extend(
                    (r["doc_id"], r["text"]) for r in b.collect()))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()
        batch = {(r["doc_id"], r["text"])
                 for r in xform(spark.read.parquet(str(src / "*"))).collect()}
        assert set(out) == batch and len(out) == len(batch)
        assert 0 < len(batch) < 400
        assert all("@" not in t and "<EMAIL>" in t for _, t in out)
