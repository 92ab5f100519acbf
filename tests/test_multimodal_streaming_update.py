"""Streaming ingestion and update-diff tests."""

import datetime
import os
import time

from pyspark.sql import functions as F

from rdf2hk_spark import constants as C
from rdf2hk_spark.operators.parse import ParseOptions, parse_quads
from rdf2hk_spark.operators.serialize import SerializeOptions
from rdf2hk_spark.operators import update_diff
from rdf2hk_spark.pipeline import corpus
from rdf2hk_spark.streaming import ingest

QUAD_SCHEMA = "stmt_idx long, s string, p string, o string, g string"


class TestStreamingIngest:
    def test_stream_end_to_end(self, spark, tmp_path):
        inp, outp, ckpt = (str(tmp_path / d) for d in ("in", "out", "ckpt"))
        corpus.pages(spark, 50).write.parquet(inp)
        q = ingest.start_kg_stream(spark, inp, outp, ckpt, trigger_once=True)
        q.awaitTermination(120)
        ents = spark.read.parquet(outp)
        assert ents.count() > 0
        assert {"node", "link", "connector"} <= {
            r["type"] for r in ents.select("type").distinct().collect()
        }
        # restart with no new data → no duplicate batches (checkpoint)
        n1 = ents.count()
        q2 = ingest.start_kg_stream(spark, inp, outp, ckpt, trigger_once=True)
        q2.awaitTermination(120)
        assert spark.read.parquet(outp).count() == n1

    def test_windowed_page_rate(self, spark, tmp_path):
        inp = str(tmp_path / "in2")
        corpus.pages(spark, 40).write.parquet(inp)
        pages = ingest.read_page_stream(spark, inp)
        stats = ingest.page_rate_stats(pages, window="10 seconds")
        out = (
            stats.writeStream.format("memory").queryName("rates")
            .outputMode("complete").trigger(availableNow=True).start()
        )
        out.awaitTermination(120)
        rows = spark.sql("select * from rates").collect()
        assert sum(r["n_pages"] for r in rows) == 40


class TestQuadMergeStream:
    """Exactly-once streaming MERGE onto the graph-partitioned store:
    checkpointed micro-batches × idempotent set-union upsert × the
    recover_store commit protocol."""

    G1, G2 = "<http://sg/1>", "<http://sg/2>"

    def _quads(self, spark, rows):
        return spark.createDataFrame(
            rows, "stmt_idx long, s string, p string, o string, g string"
        )

    def _run(self, spark, inp, store, ckpt):
        import time

        q = ingest.start_quad_merge_stream(spark, inp, store, ckpt)
        q.awaitTermination(120)
        q.stop()
        for _ in range(200):  # the query object lingers as active briefly
            if not q.isActive:
                break
            time.sleep(0.05)

    def _store_set(self, spark, store):
        return {
            (r["s"], r["p"], r["o"], r["g"])
            for r in update_diff.read_quad_store(spark, store).collect()
        }

    def test_exactly_once_across_kill_and_replay(self, spark, tmp_path):
        inp, store, ckpt = (str(tmp_path / d) for d in ("qin", "qstore", "qck"))
        batch_a = [
            (0, "<http://a>", "<http://p>", "<http://b>", self.G1),
            (1, "<http://c>", "<http://p>", "<http://d>", self.G2),
        ]
        self._quads(spark, batch_a).write.parquet(inp)
        self._run(spark, inp, store, ckpt)
        expect_a = {(s, p, o, g) for _, s, p, o, g in batch_a}
        assert self._store_set(spark, store) == expect_a

        # kill-and-restart simulation: the batch COMMITTED to the store but
        # the streaming commit marker was lost (crash between the two) —
        # deleting commits/0 (and its crc sidecar, or Spark 4's checkpoint
        # manager reports a concurrent-use conflict) forces the restarted
        # query to REPLAY batch 0. The upsert is set-union idempotent, so
        # the store is unchanged.
        for f in ("0", ".0.crc"):
            p = os.path.join(ckpt, "commits", f)
            if os.path.exists(p):
                os.remove(p)
        self._run(spark, inp, store, ckpt)
        assert self._store_set(spark, store) == expect_a  # no duplicates

        # new file with one overlapping and one new quad: the overlap is
        # absorbed, the new quad lands, other partitions untouched
        batch_b = [
            (2, "<http://c>", "<http://p>", "<http://d>", self.G2),
            (3, "<http://e>", "<http://p>", "<http://f>", self.G2),
        ]
        self._quads(spark, batch_b).write.mode("append").parquet(inp)
        self._run(spark, inp, store, ckpt)
        assert self._store_set(spark, store) == expect_a | {
            ("<http://e>", "<http://p>", "<http://f>", self.G2)
        }

    def test_upsert_is_idempotent_directly(self, spark, tmp_path):
        store = str(tmp_path / "ustore")
        quads = self._quads(
            spark, [(0, "<http://a>", "<http://p>", "<http://b>", self.G1)]
        )
        k1 = update_diff.upsert_into_store(spark, store, quads)
        k2 = update_diff.upsert_into_store(spark, store, quads)
        assert k1 == k2
        assert len(self._store_set(spark, store)) == 1


class TestStreamSessionize:
    def test_matches_batch_sessionize_across_batches(self, spark, tmp_path, sf_dir):
        """Streamed gap-sessionization over two time-ordered micro-batches
        must converge to the BATCH sessionize result (ops.events) — the
        cross-batch state carries open sessions over the file boundary."""
        from rdf2hk_spark.ops import events as ev_ops

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        med = events.approxQuantile("event_id", [0.5], 0.0)[0]
        inp, outp, ckpt = (
            str(tmp_path / d) for d in ("ein", "eout", "eck")
        )
        # two files split at the time median (event_id is time-ordered) so
        # maxFilesPerTrigger=1 yields two batches in ts order
        events.filter(F.col("event_id") <= med).coalesce(1).write.parquet(inp)
        events.filter(F.col("event_id") > med).coalesce(1).write.mode(
            "append"
        ).parquet(inp)

        stream = spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(inp)
        out = ingest.stream_sessionize(stream, gap_minutes=60)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(outp)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

        # latest snapshot per (user, session): n_events grows monotonically
        got = (
            spark.read.parquet(outp)
            .groupBy("user_id", "session_idx")
            .agg(
                F.max("n_events").alias("n_events"),
                F.min("t_start").alias("t_start"),
                F.max("t_end").alias("t_end"),
            )
        )
        batch = ev_ops.sessionize(events, gap_minutes=60).select(
            "user_id", "session_idx", "n_events",
            F.unix_timestamp("t_start").alias("t_start"),
            F.unix_timestamp("t_end").alias("t_end"),
        )
        g = sorted(map(tuple, got.collect()))
        b = sorted(map(tuple, batch.collect()))
        assert g == b
        # and the split genuinely produced >1 batch (state was exercised)
        n_batches = len(
            [f for f in os.listdir(os.path.join(ckpt, "commits"))
             if not f.startswith(".")]
        )
        assert n_batches >= 2



    def _drive(self, spark, inp, outp, ckpt, schema, gap_minutes=60, **kw):
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(inp)
        out = ingest.stream_sessionize(stream, gap_minutes=gap_minutes, **kw)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(outp)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        q.stop()
        for _ in range(200):
            if not q.isActive:
                break
            time.sleep(0.05)

    def test_kill_and_replay_restart_matches_batch(self, spark, tmp_path, sf_dir):
        """Round-5 ask: checkpoint kill/replay for the stateful sessionizer.
        Batch 0 commits its state + output, then the streaming commit
        marker is lost (crash between sink write and commit) — the
        restarted query REPLAYS batch 0 from state version 0 and then
        processes batch 1. Snapshot rows duplicate across the replay;
        the latest-snapshot reduction must still equal the batch twin."""
        from rdf2hk_spark.ops import events as ev_ops

        events = spark.read.parquet(f"{sf_dir}/events.parquet")
        med = events.approxQuantile("event_id", [0.5], 0.0)[0]
        inp, outp, ckpt = (
            str(tmp_path / d) for d in ("kin", "kout", "kck")
        )
        events.filter(F.col("event_id") <= med).coalesce(1).write.parquet(inp)
        self._drive(spark, inp, outp, ckpt, events.schema)
        n_first = spark.read.parquet(outp).count()
        assert n_first > 0

        # crash simulation: batch-0 commit marker (and crc sidecar) lost
        for f in ("0", ".0.crc"):
            pth = os.path.join(ckpt, "commits", f)
            if os.path.exists(pth):
                os.remove(pth)
        events.filter(F.col("event_id") > med).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        self._drive(spark, inp, outp, ckpt, events.schema)

        raw = spark.read.parquet(outp)
        # batch 0 really was replayed: its snapshot rows appear twice
        assert raw.count() > n_first * 1.5
        got = sorted(
            map(
                tuple,
                raw.groupBy("user_id", "session_idx").agg(
                    F.max("n_events").alias("n_events"),
                    F.min("t_start").alias("t_start"),
                    F.max("t_end").alias("t_end"),
                ).collect(),
            )
        )
        batch = sorted(
            map(
                tuple,
                ev_ops.sessionize(events, gap_minutes=60).select(
                    "user_id", "session_idx", "n_events",
                    F.unix_timestamp("t_start").alias("t_start"),
                    F.unix_timestamp("t_end").alias("t_end"),
                ).collect(),
            )
        )
        assert got == batch

    def test_late_event_folds_into_start_and_is_counted(self, spark, tmp_path):
        """ADVICE r4: an out-of-order arrival older than the open session's
        start (but within gap) must fold into t_start — converging to the
        batch twin — and be observable via emit_late_count."""
        schema = "user_id long, ts timestamp"
        inp, outp, ckpt = (
            str(tmp_path / d) for d in ("lin", "lout", "lck")
        )
        t = "2026-01-01 10:{m:02d}:00"

        def f(minutes):
            return [(1, datetime.datetime.fromisoformat(
                t.format(m=m))) for m in minutes]

        # batch 0: 10:05, 10:10; batch 1: LATE 10:02 (within the 60-min gap,
        # older than the open session's start) plus 10:20
        spark.createDataFrame(f([5, 10]), schema).coalesce(1).write.parquet(inp)
        self._drive(spark, inp, outp, ckpt, schema, emit_late_count=True)
        spark.createDataFrame(f([2, 20]), schema).coalesce(1).write.mode(
            "append"
        ).parquet(inp)
        self._drive(spark, inp, outp, ckpt, schema, emit_late_count=True)

        last = (
            spark.read.parquet(outp)
            .groupBy("user_id", "session_idx")
            .agg(
                F.max("n_events").alias("n_events"),
                F.min("t_start").alias("t_start"),
                F.max("t_end").alias("t_end"),
                F.max("n_late").alias("n_late"),
            )
            .collect()
        )
        assert len(last) == 1
        r = last[0]
        base = datetime.datetime.fromisoformat("2026-01-01 10:00:00").timestamp()
        assert r["n_events"] == 4
        assert r["t_start"] == int(base) + 120   # folded to the LATE 10:02
        assert r["t_end"] == int(base) + 1200
        assert r["n_late"] == 1


class TestStatefulDedup:
    def _run(self, spark, inp, ckpt, outp):
        docs = spark.readStream.schema("doc_id long, text string").parquet(inp)
        out = ingest.stream_dedup_exact(docs)

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(outp)

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(outp).collect()
        except Exception:
            return []

    def test_dedup_state_across_restarts(self, spark, tmp_path):
        inp, ckpt = str(tmp_path / "sin"), str(tmp_path / "sckpt")
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
        ).write.parquet(inp)
        outp = str(tmp_path / "sout")
        rows = self._run(spark, inp, ckpt, outp)
        got = {(r["keep_id"]) for r in rows}
        assert got == {"1", "2"}  # alpha kept once (min id), beta kept

        # second batch arrives: a replayed duplicate + a new doc — state in
        # the checkpoint suppresses the replay across the restart
        spark.createDataFrame(
            [(4, "alpha"), (5, "gamma")], "doc_id long, text string"
        ).write.mode("append").parquet(inp)
        rows2 = self._run(spark, inp, ckpt, outp)
        assert {r["keep_id"] for r in rows2} == {"1", "2", "5"}


class TestUpdateDiff:
    def _ents(self, spark, rows):
        # localCheckpoint: update_quads serializes both sides into ~12-branch
        # union plans over these frames — truncate lineage once here
        return parse_quads(
            spark.createDataFrame(rows, QUAD_SCHEMA),
            ParseOptions(create_context=True, set_node_context=True),
        ).localCheckpoint()

    def test_delta_and_apply(self, spark):
        g = "<http://g/1>"
        old_rows = [
            (0, "<http://e/a>", "<http://p/r>", "<http://e/b>", g),
            (1, "<http://e/a>", "<http://p/name>", '"old"', g),
        ]
        new_rows = [
            (0, "<http://e/a>", "<http://p/r>", "<http://e/b>", g),
            (1, "<http://e/a>", "<http://p/name>", '"new"', g),
            (2, "<http://e/b>", "<http://p/name>", '"bee"', g),
        ]
        old = self._ents(spark, old_rows)
        new = self._ents(spark, new_rows)
        opts = SerializeOptions(default_graph=C.HK_NULL_URI)
        delta = update_diff.update_quads(old, new, opts)
        d = {(r["op"], r["s"], r["p"], r["o"]) for r in delta.collect()}
        assert ("delete", "<http://e/a>", "<http://p/name>", '"old"') in d
        assert ("insert", "<http://e/a>", "<http://p/name>", '"new"') in d
        assert ("insert", "<http://e/b>", "<http://p/name>", '"bee"') in d
        # unchanged link quad is NOT touched
        assert not any(p == "<http://p/r>" for _, _, p, _ in d)
        # applying the delta to serialize(old) yields serialize(new)
        from rdf2hk_spark.operators.serialize import serialize_entities

        store = serialize_entities(old, opts).select("s", "p", "o", "g")
        applied = update_diff.apply_update(store, delta)
        want = serialize_entities(new, opts).select("s", "p", "o", "g")
        assert applied.exceptAll(want).count() == 0
        assert want.exceptAll(applied).count() == 0

    def test_reparent_moves_graph(self, spark):
        old = self._ents(spark, [(0, "<http://e/a>", "<http://p/n>", '"v"', "<http://g/1>")])
        new = self._ents(spark, [(0, "<http://e/a>", "<http://p/n>", '"v"', "<http://g/2>")])
        delta = update_diff.update_quads(old, new, SerializeOptions())
        ops = {(r["op"], r["g"]) for r in delta.filter(F.col("p") == "<http://p/n>").collect()}
        assert ("delete", "<http://g/1>") in ops and ("insert", "<http://g/2>") in ops
