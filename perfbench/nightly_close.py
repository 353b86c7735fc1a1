"""``nightly_close``: a run of nightly ETL, audit and corpus closes.

Each night is a fresh increment directory (a salted replica of
lineitem, orders, customer and events, with seeded malformed CSV rows
and unknown master keys), so the engine's memo caches miss every
night. One night: CSV staging with the corrupt-record and
unknown-key channels, customer upsert, inventory costing, the sales
register, a partitioned snapshot write of the ledger shape plus its
compaction, the audit changelog appended to a growing log, and the
time-travel reads (as-of, snapshot diff, retention) over that log.
The night ends with the day's document drop: the file lands and the
assembly ingest stream (``availableNow``, resumed from its checkpoint)
runs to the end, gating the drop (quality, repetition, n-gram
decontamination against a benchmark set, near-dup scrub against the
corpus signature index); the handler appends the survivors'
signatures to that index.

Set-up writes the signature index of the standing corpus, which runs
the stream's signature code once, and runs one ETL and audit close in a
state of its own (the warm-up); the stream itself first starts in the
measured night, as in a nightly job. Past the generated nights,
increments and drops replay under new keys and salts, so a faster
engine never runs out of input.

Checks: rows are conserved per staged file (valid + rejected +
corrupt = input, with the generator's exact reject and corrupt
counts), the snapshot read back equals what was written, the
compaction keeps every row, and the streamed survivors equal the same
stateless gates applied to all measured drops in one batch.
"""

from __future__ import annotations

import os
import shutil
import time

from . import gen

BASE_ORDERS = 2_000
NIGHT_ORDERS = 4_000
NIGHTS = 3
CORPUS_DOCS = 400
DROP_DOCS = 150
QUALITY_MIN = 0.68
INDEX_TABLE = "pb_index"
BENCH_VIEW = "pb_bench"
ROWS_PER_NIGHT_KEYS = ("lineitem", "orders", "customer", "events")


def _schemas():
    from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                                   StructField, StructType, TimestampType)

    def st(*fields):
        return StructType([StructField(n, t) for n, t in fields])

    return {
        "lineitem": st(("l_orderkey", LongType()), ("l_partkey", LongType()),
                       ("l_suppkey", LongType()), ("l_linenumber", IntegerType()),
                       ("l_quantity", DoubleType()), ("l_extendedprice", DoubleType()),
                       ("l_discount", DoubleType()), ("l_returnflag", StringType()),
                       ("l_shipdate", TimestampType())),
        "orders": st(("o_orderkey", LongType()), ("o_custkey", LongType()),
                     ("o_totalprice", DoubleType()), ("o_orderdate", TimestampType()),
                     ("o_orderpriority", StringType())),
        "customer": st(("c_custkey", LongType()), ("c_name", StringType()),
                       ("c_nationkey", IntegerType()), ("c_acctbal", DoubleType()),
                       ("c_mktsegment", StringType())),
    }


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return size, files


class NightlyClose:
    name = "nightly_close"

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.failures: list[str] = []
        self.stats = {"input_rows": 0, "rejected": 0, "input_bytes": 0, "files": 0,
                      "events": 0}
        self.kept_ids: set[int] = set()
        self.funnels: list[dict] = []
        self.ingested: list[str] = []
        self.drop_stats: list[tuple[float, float, float]] = []
        self.on_stats_s = 0.0
        self.append_s = 0.0
        self.index_write_s = 0.0

    # -- inputs -------------------------------------------------------------

    def generate(self, out_dir: str) -> dict:
        base = gen.write_catalog(os.path.join(out_dir, "base"), self.seed, BASE_ORDERS)
        nights = [gen.write_night(os.path.join(out_dir, f"night{n}"), self.seed, n,
                                  NIGHT_ORDERS, base["part"], base["customer"])
                  for n in range(NIGHTS)]
        corpus = gen.write_corpus(os.path.join(out_dir, "corpus"), self.seed, CORPUS_DOCS,
                                  NIGHTS, DROP_DOCS)
        return {"base": base, "nights": nights, "corpus": corpus}

    def use_inputs(self, out_dir: str, counts: dict) -> None:
        self.inputs = out_dir
        self.counts = counts

    def compute_oracles(self) -> None:
        pass

    def round_size(self) -> int:
        return 1

    def _use_state(self, name: str) -> None:
        """Point the close at the state directory ``name``: snapshot,
        logs, customer master and the stream's landing and checkpoint."""
        self.state = os.path.join(self.work, name)
        self.snapshot = os.path.join(self.state, "ledger_snapshot")
        self.event_log = os.path.join(self.state, "event_log")
        self.audit_log = os.path.join(self.state, "audit_log")
        self.landing = os.path.join(self.state, "landing")
        self.checkpoint = os.path.join(self.state, "checkpoint")
        self.customer_master = None
        os.makedirs(self.landing)

    def _drop_file(self, n: int) -> str:
        drops = os.path.join(self.inputs, "corpus", "drops")
        src = os.path.join(drops, f"drop_{n % NIGHTS}.parquet")
        replay = n // NIGHTS
        if not replay:
            return src
        dst = os.path.join(drops, f"drop_{n % NIGHTS}_r{replay}.parquet")
        gen.salt_drop(src, dst, replay)
        return dst

    # -- one night ----------------------------------------------------------

    def _stage(self, night_dir: str, name: str, master, master_key: str, key: str):
        """(valid, rejected count, corrupt count) for one staged CSV."""
        from etl_staging_spark.etl import csv_io

        with self.tracer.span("etl", f"stage_{name}"):
            raw = csv_io.read_csv(self.spark, os.path.join(night_dir, f"{name}.csv"),
                                  self.schemas[name])
            clean, bad = csv_io.split_corrupt(raw)
            valid, rejected = csv_io.validate_against_master(clean, master, key, master_key)
            valid = valid.persist()
            n = (valid.count(), rejected.count(), bad.count())
            raw.unpersist()
        return valid, n[1], n[2], n[0]

    def _conserve(self, night: int, name: str, valid: int, rejected: int, corrupt: int) -> None:
        exp = self.counts["nights"][night][name]
        if (valid + rejected + corrupt != exp["rows"] or rejected != exp["unknown"]
                or corrupt != exp["corrupt"]):
            self.failures.append(
                f"night {night} {name}: valid {valid} + rejected {rejected} + corrupt "
                f"{corrupt} vs input {exp['rows']} (unknown {exp['unknown']}, "
                f"corrupt {exp['corrupt']})")

    def close(self, n: int) -> int:
        """The ETL and audit close of night ``n``; returns its input rows."""
        from pyspark.sql import functions as F

        from etl_staging_spark import tables
        from etl_staging_spark.audit import changelog
        from etl_staging_spark.etl import compaction, costing, csv_io, registers, sinks, upsert
        from etl_staging_spark.operators import events as ev_ops

        t = self.tracer
        spark = self.spark
        night_dir = os.path.join(self.inputs, f"night{n % NIGHTS}")
        replay = n // NIGHTS  # nights beyond the generated ones replay under a new key
        base = os.path.join(self.inputs, "base")
        with t.span("tables", "load"):
            parts = tables.load(spark, base, "part")
            master_cust = (spark.read.parquet(self.customer_master) if self.customer_master
                           else tables.load(spark, base, "customer"))
        # customers first: tonight's orders may reference tonight's customers
        with t.span("etl", "stage_customer"):
            cust = csv_io.read_csv(spark, os.path.join(night_dir, "customer.csv"),
                                   self.schemas["customer"])
            cust_clean, _ = csv_io.split_corrupt(cust)
        with t.span("etl", "scd0_upsert"):
            merged = upsert.scd0_upsert(master_cust, cust_clean, "c_custkey").drop("is_new")
            path = os.path.join(self.state, f"customer_master_{n}")
            merged.write.mode("overwrite").parquet(path)
            cust.unpersist()
            self.customer_master = path
            master_cust = spark.read.parquet(path)
        li, li_rej, li_bad, li_valid = self._stage(night_dir, "lineitem", parts, "p_partkey",
                                                   "l_partkey")
        orders, o_rej, o_bad, o_valid = self._stage(night_dir, "orders", master_cust,
                                                    "c_custkey", "o_custkey")
        if not replay:
            self._conserve(n, "lineitem", li_valid, li_rej, li_bad)
            self._conserve(n, "orders", o_valid, o_rej, o_bad)
        with t.span("etl", "svl_costing"):
            unit_cost = (F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100 + 0.5)
                         / 100).cast("decimal(18,2)")
            layers = li.select(
                F.col("l_partkey").alias("part_key"),
                F.col("l_shipdate").cast("date").alias("layer_date"),
                (F.col("l_returnflag") != "R").alias("is_in"),
                F.col("l_quantity").cast("decimal(18,2)").alias("qty"),
                unit_cost.alias("unit_cost"),
                F.round(unit_cost * F.col("l_quantity").cast("decimal(18,2)"), 2).alias("value"))
            costing.svl_costing(layers).count()
        with t.span("etl", "sales_register"):
            registers.sales_register(orders, li, "1995-01-01", "2001-12-31").count()
        with t.span("etl", "write_partitioned_snapshot"):
            shaped = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
                (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
                F.col("l_orderkey").alias("move_id"),
                F.col("o_orderdate").alias("date"),
                F.col("o_custkey").alias("partner_id"),
                (F.col("l_suppkey") % 3).cast("int").alias("company_id"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("balance"),
                F.lit(n).alias("night"))
            checksum = F.sum(F.pmod(F.xxhash64("id", "move_id", "date", "partner_id", "balance"),
                                    F.lit(2**31 - 1)))
            written = shaped.agg(F.count("*"), checksum).first()
            sinks.write_partitioned_snapshot(shaped, self.snapshot, ["night", "company_id"])
            self.stats["files"] += _dir_stats(os.path.join(self.snapshot, f"night={n}"))[1]
            back = spark.read.parquet(self.snapshot).where(F.col("night") == n).agg(
                F.count("*"), checksum).first()
        if tuple(back) != tuple(written):
            self.failures.append(f"night {n}: snapshot read-back {tuple(back)} != written "
                                 f"{tuple(written)}")
        with t.span("etl", "compact_partitions"):
            res = compaction.compact_partitions(spark, self.snapshot, ["night", "company_id"],
                                                scope=f"night = {n}")
        self.stats["files"] += res["files_after"]
        if res["rows"] != written[0]:
            self.failures.append(f"night {n}: compaction kept {res['rows']} of {written[0]}")
        with t.span("audit", "capture"):
            events = spark.read.parquet(os.path.join(night_dir, "events.parquet")).withColumn(
                "event_id", F.col("event_id") + F.lit(replay * 10 * gen.KEY_STRIDE))
            events.write.mode("append").parquet(self.event_log)
            changelog.capture(events).write.mode("append").parquet(self.audit_log)
        with t.span("audit", "time_travel"):
            log = spark.read.parquet(self.event_log)
            changelog.as_of(log, "2024-01-15 12:00:00").count()
            changelog.snapshot_diff(log, "2024-01-08", "2024-01-22").count()
            changelog.retention_vacuum(log, "2024-01-10").count()
        with t.span("operators", "sessionize"):
            ev_ops.sessionize(events).count()
        with t.span("tables", "release_pinned"):
            for df in (li, orders):
                df.unpersist()
        counts = self.counts["nights"][n % NIGHTS]
        self.stats["input_rows"] += counts["lineitem"]["rows"] + counts["orders"]["rows"]
        self.stats["rejected"] += li_rej + li_bad + o_rej + o_bad
        self.stats["input_bytes"] += counts["bytes"]
        self.stats["events"] += counts["events"]["rows"]
        return sum(counts[k]["rows"] for k in ROWS_PER_NIGHT_KEYS)

    def ingest(self, src: str, query_name: str) -> int:
        """Land the drop file ``src`` and run the ingest stream to its
        end; returns the drop's document count."""
        from etl_staging_spark.llmdata import dedup
        from etl_staging_spark.streaming import ingest

        t = self.tracer
        state = {"after_batch": None}

        def on_batch(batch_id, df):
            ids = [r[0] for r in df.select("doc_id").collect()]
            self.kept_ids.update(ids)
            t0 = time.perf_counter()
            if ids:
                dedup.append_signature_index(df.select("doc_id", "text"), INDEX_TABLE)
            state["after_batch"] = time.perf_counter()
            self.append_s += state["after_batch"] - t0

        def on_stats(batch_id, funnel):
            if state["after_batch"] is not None:
                self.on_stats_s += time.perf_counter() - state["after_batch"]
            self.funnels.append(funnel)

        t0 = time.perf_counter()
        shutil.copy(src, os.path.join(self.landing, os.path.basename(src)))
        self.ingested.append(src)
        with t.span("streaming", "assembly_ingest_stream") as sp:
            q = ingest.assembly_ingest_stream(
                ingest.doc_stream(self.spark, self.landing), INDEX_TABLE, BENCH_VIEW,
                on_batch, quality_min=QUALITY_MIN, checkpoint_dir=self.checkpoint,
                on_stats=on_stats, query_name=query_name)
            t.bind_stream(str(q.runId), sp)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {q.exception()}")
        progress = q.recentProgress
        self.drop_stats.append((
            time.perf_counter() - t0,
            sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3,
            sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3))
        return DROP_DOCS


    # -- lifecycle ----------------------------------------------------------

    def warm(self) -> None:
        """The corpus signature index, then the close of increment 0 in
        a state directory of its own."""
        from etl_staging_spark.llmdata import dedup

        self.schemas = _schemas()
        corpus = os.path.join(self.inputs, "corpus")
        self.spark.read.parquet(os.path.join(corpus, "bench.parquet")).createOrReplaceTempView(
            BENCH_VIEW)
        t0 = time.perf_counter()
        with self.tracer.span("llmdata", "write_signature_index"):
            docs = self.spark.read.parquet(os.path.join(corpus, "corpus.parquet"))
            dedup.write_signature_index(docs.select("doc_id", "text"), INDEX_TABLE)
        self.index_write_s = time.perf_counter() - t0
        self._use_state("warm_state")
        self.close(0)
        self.stats = dict.fromkeys(self.stats, 0)
        self._use_state("state")

    def op(self, i: int) -> int:
        """Night ``i``: the close, then the day's drop; returns its input
        records (staged rows and documents)."""
        drop = self._drop_file(i)  # a replayed drop is salted before the night starts
        return self.close(i) + self.ingest(drop, f"pb_ingest_{i}")

    def finish(self) -> None:
        """Streamed survivors vs the same stateless gates in one batch."""
        from pyspark.sql import functions as F

        from etl_staging_spark.llmdata import decontam, textstats

        if not self.ingested:
            return
        with self.tracer.span("llmdata", "batch_gates"):
            batch = self.spark.read.parquet(*self.ingested)
            bench = self.spark.table(BENCH_VIEW)
            qual = textstats.quality_scores(batch).where(F.col("quality") >= QUALITY_MIN)
            rep = textstats.repetition_stats(batch).persist()
            clean = decontam.ngram_overlap(batch, bench, n=5, min_hits=1).where(
                ~F.col("contaminated"))
            gated = {r[0] for r in (batch.select("doc_id")
                                    .join(qual.select("doc_id"), "doc_id", "left_semi")
                                    .join(rep.where(~F.col("repetitive")).select("doc_id"),
                                          "doc_id", "left_semi")
                                    .join(clean.select("doc_id"), "doc_id", "left_semi")
                                    .collect())}
            rep.unpersist()
        streamed_gated = sum(f["n_decontam"] for f in self.funnels)
        # drops are salted apart from the corpus and from each other, so
        # the index scrub removes nothing: the stream must keep exactly
        # what the gates keep in one batch
        if self.kept_ids != gated or streamed_gated != len(gated):
            self.failures.append(
                f"stream kept {len(self.kept_ids)} (gated {streamed_gated}) vs one batch "
                f"gated {len(gated)}; symmetric difference {len(self.kept_ids ^ gated)}")

    def layer_extras(self, jobs_by_span: dict, spans: list[dict]) -> dict[str, float]:
        s = self.stats
        snap_bytes = _dir_stats(self.snapshot)[0]
        audit_bytes = _dir_stats(self.audit_log)[0]
        n_drops = max(len(self.drop_stats), 1)
        stream_spans = [sp for sp in spans if sp["layer"] == "streaming" and sp["request"]]
        docs_in = sum(f["n_in"] for f in self.funnels)
        return {
            "etl.reject_ratio": s["rejected"] / max(s["input_rows"], 1),
            "etl.bytes_written_per_input_byte": snap_bytes / max(s["input_bytes"], 1),
            "etl.files_written": float(s["files"]),
            "audit.log_bytes_per_event": audit_bytes / max(s["events"], 1),
            "llmdata.index_write_s": self.index_write_s,
            "llmdata.index_append_s": self.append_s / n_drops,
            "llmdata.keep_ratio": len(self.kept_ids) / max(docs_in, 1),
            # landing-to-end time spent outside the micro-batch trigger
            "streaming.start_s": sum(w - trig for w, trig, _ in self.drop_stats) / n_drops,
            "streaming.batch_s": sum(b for _, _, b in self.drop_stats) / n_drops,
            "streaming.jobs_per_drop": sum(jobs_by_span.get(sp["id"], 0)
                                           for sp in stream_spans) / max(len(stream_spans), 1),
            "streaming.on_stats_s": self.on_stats_s / n_drops,
        }
