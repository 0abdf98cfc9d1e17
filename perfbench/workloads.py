"""The benchmark's workloads, driven through the library's public functions.

A workload stages its inputs once per run (untimed), then runs passes.
A pass is the whole pipeline a scheduled task would run; each call into
the library inside it is one operation, timed through an action that
reads every output column (``fingerprint``). A pass records its ops'
latencies and fingerprints; ``check`` compares one captured pass against
an independent DuckDB computation or against invariants.

``sql_elt`` is the warehouse side: read-only registry queries plus the
astro-sdk ELT surface (load_file, CTAS, append, merge, checks, publish,
streaming sketch stores, cleanup). It calls no Arrow UDF.
``curate_ann`` is the LLM-data side, reading the tables directly as the
curation and similarity-service examples do: corpus cleaning, quality
gates, MinHash dedup and splitting, then an ANN index built, streamed
into, compacted and queried by one closed-loop caller. It runs Arrow UDFs
and wide dedup shuffles.
"""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import files_read, stream_progress

# one read-only query per relational kind of the registry: TPC-H
# aggregate, a TPC-H join, a rollup (grouping-set expansion), a running
# window
SQL_QUERIES = ("q_pricing_summary", "q_tpch_q3", "q_rollup", "q_window_running")
_ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"]
# the types Spark infers for the staged orders NDJSON
_ORDERS_DUCKDB = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'o_orderstatus': 'VARCHAR', "
                  "'o_totalprice': 'DOUBLE', 'o_orderdate': 'VARCHAR', "
                  "'o_orderpriority': 'VARCHAR'}")
_REPORT_SQL = """
SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
       count(DISTINCT o.o_orderkey) AS n_orders,
       sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS revenue_cents
FROM {orders} o
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment, o.o_orderpriority
"""


def fingerprint(df):
    """Row count and an order-independent hash over every column, in one
    action: Catalyst cannot prune any output column out of the plan, and
    equal results give equal fingerprints in any row order. Returns the
    action's DataFrame (for plan counters) and ``(rows, hash)``."""
    fdf = df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    )
    (n, h), = fdf.collect()  # fdf's own execution, so its plan carries the metrics
    return fdf, (int(n), int(h or 0))


def canonical(rows, columns) -> list[str]:
    """Rows as sorted strings with columns sorted by name and floats at six
    decimals, so Spark and DuckDB results compare order-free."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.6f}"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            vals.append(str(v))
        out.append("\x1f".join(vals))
    return sorted(out)


class Pass:
    """One pass: op latencies, fingerprints, and time excluded from the
    pass (result capture for the correctness check)."""

    def __init__(self, tracer, capture: bool):
        self.tracer = tracer
        self.capture = capture
        self.ops: list[tuple[str, float]] = []
        self.prints: dict[str, tuple] = {}
        self.captured: dict = {}
        self.failures: list[str] = []
        self.raised = 0
        self.excluded_s = 0.0

    @contextmanager
    def op(self, span: str):
        """Time one library call as one operation, inside its span."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span) as rec:
                yield rec
        except BaseException:
            self.raised += 1
            raise
        self.ops.append((span, (time.perf_counter() - t0) * 1e3))

    @contextmanager
    def untimed(self):
        t0 = time.perf_counter()
        yield
        self.excluded_s += time.perf_counter() - t0


def _write_ndjson(path: str, table: pa.Table) -> None:
    with open(path, "w") as fh:
        for rec in table.to_pylist():
            fh.write(json.dumps(rec, default=str) + "\n")


def _write_microbatches(dir_: str, tables: list[pa.Table]) -> str:
    """One parquet file per micro-batch with strictly increasing mtimes,
    so a file stream with ``maxFilesPerTrigger=1`` replays them in order.
    Written with pyarrow, not Spark, so staging warms no Spark code path
    before the cold pass."""
    os.makedirs(dir_)
    base = time.time() - 100
    for i, t in enumerate(tables):
        path = os.path.join(dir_, f"part-{i:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (base + i, base + i))
    return dir_


class SqlElt:
    name = "sql_elt"
    request_spans = None  # every query and operator call is one operation
    nominal_pass_s = (15, 7)  # cold, warm; 4 vCPUs

    def __init__(self, ctx):
        self.ctx = ctx
        rng, data, stage = ctx.rng, ctx.data_dir, ctx.path("stage")
        os.makedirs(stage)
        self.queries = list(rng.permutation(SQL_QUERIES))
        orders = pq.read_table(os.path.join(data, "orders.parquet"))
        orders = orders.set_column(
            orders.schema.get_field_index("o_orderdate"), "o_orderdate",
            pa.array([d.date().isoformat() for d in orders["o_orderdate"].to_pylist()]),
        )
        n, next_key = orders.num_rows, pc.max(orders["o_orderkey"]).as_py() + 1
        held = np.zeros(n, bool)
        held[rng.choice(n, n // 20, replace=False)] = True
        base, new = orders.filter(pa.array(~held)), orders.filter(pa.array(held))
        # merge batch: existing keys with changed status and price, plus
        # keys that exist nowhere yet
        upd = base.take(rng.choice(base.num_rows, base.num_rows // 25, replace=False))
        upd = upd.set_column(2, "o_orderstatus", pa.array(["U"] * upd.num_rows))
        upd = upd.set_column(3, "o_totalprice", pa.array(
            np.round(rng.uniform(1000, 500_000, upd.num_rows), 2)))
        fresh = new.slice(0, 50).set_column(
            0, "o_orderkey", pa.array(np.arange(next_key, next_key + 50, dtype=np.int64)))
        self.files = {
            "lineitem": os.path.join(data, "lineitem.parquet"),
            "orders": os.path.join(stage, "orders.ndjson"),
            "customer": os.path.join(stage, "customer.csv"),
            "orders_new": os.path.join(stage, "orders_new.ndjson"),
            "orders_upd": os.path.join(stage, "orders_upd.ndjson"),
        }
        _write_ndjson(self.files["orders"], base)
        _write_ndjson(self.files["orders_new"], new)
        _write_ndjson(self.files["orders_upd"], pa.concat_tables([upd, fresh]))
        pacsv.write_csv(pq.read_table(os.path.join(data, "customer.parquet")),
                        self.files["customer"])
        events = pq.read_table(os.path.join(data, "events.parquet"),
                               columns=["event_type", "user_id", "value"])
        first = pa.array(rng.random(events.num_rows) < 0.5)
        self.events = events
        self.stream_dir = _write_microbatches(
            os.path.join(stage, "events"),
            [events.filter(first), events.filter(pc.invert(first))],
        )
        probe = events.take(rng.choice(events.num_rows, 50, replace=False))
        self.probe_users = probe.select(["event_type", "user_id"]).to_pandas() \
            .drop_duplicates().reset_index(drop=True)
        os.sync()

    @property
    def ingest_bytes(self) -> int:
        return sum(os.path.getsize(f) for f in self.files.values())

    def run_pass(self, p: Pass, k: int) -> None:
        from astro_sdk_spark import (
            File, SparkEngine, Table, append, check_column, check_table,
            cleanup, load_file, merge,
        )
        from astro_sdk_spark.functions.cms import cms_query
        from astro_sdk_spark.functions.quantiles import quantile_sketch_query
        from astro_sdk_spark.operators.publish import publish_table
        from astro_sdk_spark.operators.transform import run_transform
        from astro_sdk_spark.queries import spark_queries
        from astro_sdk_spark.streaming.ops import (
            stream_quantile_ingest, stream_sketch_ingest,
        )

        ctx, spark = self.ctx, self.ctx.spark
        traced = ctx.tracer.enabled
        registry = spark_queries()
        for name in self.queries:
            with p.op("queries.query"):
                _, p.prints[name] = fingerprint(registry[name](spark, ctx.data_dir))

        eng = SparkEngine(spark)
        t = {n: Table(name=f"elt_{n}", temp=True) for n in (
            "lineitem", "orders", "customer", "orders_new", "orders_upd",
            "stage", "report", "qsk", "cms")}
        for n in ("orders", "customer"):
            with p.op("engine.read_file"):
                _, p.prints[f"read_{n}"] = fingerprint(eng.read_file(File(self.files[n])))
        for n in self.files:
            with p.op("operators.load_file"):
                load_file(File(self.files[n]), t[n], engine=eng)
        with p.op("operators.append"):
            append(t["orders_new"], t["orders"], engine=eng)
        with p.op("operators.merge"):
            merge(t["orders_upd"], t["orders"], columns=_ORDER_COLS,
                  target_conflict_columns=["o_orderkey"], if_conflicts="update",
                  engine=eng)
        report_sql = _REPORT_SQL.format(
            orders="{{ orders }}", lineitem="{{ lineitem }}", customer="{{ customer }}")
        with p.op("operators.transform"):
            run_transform(report_sql, parameters={
                "orders": t["orders"], "lineitem": t["lineitem"],
                "customer": t["customer"]}, output_table=t["stage"], engine=eng)
        with p.op("operators.data_validation"):
            check_column(t["orders"], {
                "o_orderkey": {"null_check": {"equal_to": 0},
                               "unique_check": {"equal_to": 0}},
                "o_totalprice": {"min": {"geq_to": 0}},
            }, engine=eng)
        with p.op("operators.data_validation"):
            check_table(t["stage"], {
                "not_empty": {"check_statement": "COUNT(*) > 0"},
                "non_negative": {"check_statement": "revenue_cents >= 0"},
            }, engine=eng)
        with p.op("operators.publish"):
            publish_table(
                spark.table(t["stage"].qualified_name), t["report"],
                table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
                column_checks={"segment": {"null_check": {"equal_to": 0}}},
                spark=spark,
            )
        for n in ("report", "orders"):
            p.prints[n] = fingerprint(spark.table(t[n].qualified_name))[1]
        if p.capture:
            with p.untimed():
                for n in ("report", "orders"):
                    df = spark.table(t[n].qualified_name)
                    p.captured[n] = canonical(df.collect(), df.columns)

        def stream():
            return (spark.readStream.schema("event_type string, user_id bigint, value double")
                    .option("maxFilesPerTrigger", 1).parquet(self.stream_dir))

        # both stores ingest the same event stream side by side, as one
        # monitoring pipeline would run them
        with p.op("streaming.store") as rec:
            queries = [
                stream_quantile_ingest(stream(), "value", "elt_qsk", ctx.path(f"ck/{k}/qsk"),
                                       width=100, by=["event_type"]),
                stream_sketch_ingest(stream(), "user_id", "elt_cms", ctx.path(f"ck/{k}/cms"),
                                     width=1024, depth=4, by=["event_type"]),
            ]
            for q in queries:
                await_stream(q)
        if traced:
            rec.update(stream_progress(queries))
        with p.op("functions.sketch_query"):
            _, p.prints["quantiles"] = fingerprint(quantile_sketch_query(
                spark.table("elt_qsk").select("event_type", "bucket", "n"),
                [0.5, 0.95], width=100, by=["event_type"]))
        with p.op("functions.sketch_query"):
            est = cms_query(
                spark.table("elt_cms").select("event_type", "d", "cell", "n"),
                spark.createDataFrame(self.probe_users), "user_id",
                width=1024, depth=4, by=["event_type"])
            _, p.prints["cms"] = fingerprint(est)
        if p.capture:
            with p.untimed():
                p.captured["cms"] = [tuple(r) for r in est.select(
                    "event_type", "user_id", "est").collect()]
        with p.op("operators.cleanup"):
            cleanup(list(t.values()), engine=eng)

    def check(self, captured: dict) -> list[str]:
        """Registry queries against their DuckDB oracle SQL; the published
        report and the merged orders table against DuckDB over the same
        staged files; count-min estimates never below the exact count."""
        import duckdb

        from astro_sdk_spark.queries import oracle_queries, spark_queries

        spark, data = self.ctx.spark, self.ctx.data_dir
        con = duckdb.connect()
        for fn in sorted(os.listdir(data)):
            con.execute(f"CREATE VIEW {fn.removesuffix('.parquet')} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, fn)}')")
        failures = []
        registry, oracles = spark_queries(), oracle_queries()
        for name in self.queries:
            df = registry[name](spark, data)
            res = con.execute(oracles[name])
            want = canonical(res.fetchall(), [d[0] for d in res.description])
            if canonical(df.collect(), df.columns) != want:
                failures.append(f"{name}: differs from its DuckDB oracle")

        f = self.files

        def read_orders(path):
            return f"read_ndjson('{path}', columns={_ORDERS_DUCKDB})"

        con.execute(f"""CREATE VIEW o_all AS
            SELECT * FROM {read_orders(f['orders'])}
            UNION ALL SELECT * FROM {read_orders(f['orders_new'])}""")
        con.execute(f"CREATE VIEW o_upd AS SELECT * FROM {read_orders(f['orders_upd'])}")
        con.execute("""CREATE VIEW o_merged AS
            SELECT * FROM o_all WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o_upd)
            UNION ALL SELECT * FROM o_upd""")
        con.execute(f"CREATE VIEW c_csv AS SELECT * FROM read_csv_auto('{f['customer']}')")
        expected = {
            "orders": "SELECT * FROM o_merged",
            "report": _REPORT_SQL.format(
                orders="o_merged", lineitem=f"read_parquet('{f['lineitem']}')",
                customer="c_csv"),
        }
        for n, sql in expected.items():
            res = con.execute(sql)
            if captured.get(n) != canonical(res.fetchall(), [d[0] for d in res.description]):
                failures.append(f"{n}: differs from DuckDB over the staged files")

        exact = self.events.group_by(["event_type", "user_id"]).aggregate(
            [("value", "count")]).to_pylist()
        exact = {(r["event_type"], r["user_id"]): r["value_count"] for r in exact}
        cms = captured.get("cms", [])
        if len(cms) != len(self.probe_users) or any(
                est < exact[(et, uid)] for et, uid, est in cms):
            failures.append("count-min estimate below the exact count")
        return failures


def await_stream(q, timeout_s: int = 300) -> None:
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"stream {q.name or q.id} did not drain")
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))


class CurateAnn:
    name = "curate_ann"
    request_spans = ("functions.ann_index.topk",)  # the service's requests
    nominal_pass_s = (39, 19)  # cold, warm; 4 vCPUs
    n_lists = 4
    n_probes = 8
    top_k = 5

    def __init__(self, ctx):
        self.ctx = ctx
        rng, data, stage = ctx.rng, ctx.data_dir, ctx.path("stage")
        os.makedirs(stage)
        self.docs = os.path.join(data, "documents.parquet")
        self.n_docs = pq.read_metadata(self.docs).num_rows
        vecs = pq.read_table(os.path.join(data, "embeddings.parquet"),
                             columns=["vec_id", "embedding"])
        part = rng.integers(0, 4, vecs.num_rows)  # 0, 1: base; 2, 3: stream
        base = vecs.filter(pa.array(part < 2))
        self.vectors = os.path.join(stage, "vectors.parquet")
        pq.write_table(base, self.vectors)
        self.stream_dir = _write_microbatches(
            os.path.join(stage, "vectors_stream"),
            [vecs.filter(pa.array(part == 2)), vecs.filter(pa.array(part == 3))])
        self.schema = "vec_id bigint, embedding array<float>"
        # a fixed sample quantizer, as in the similarity-service example,
        # so list sizes, and with them request cost, do not vary by seed
        self.centroids = vecs.slice(0, self.n_lists).to_pandas()
        emb = np.stack(self.centroids["embedding"].to_numpy())
        m, dsub = 4, emb.shape[1] // 4
        self.codebooks = [emb[:, s * dsub:(s + 1) * dsub].astype(float).tolist()
                          for s in range(m)]
        self.probes = vecs.take(rng.choice(vecs.num_rows, self.n_probes, replace=False)) \
            .to_pandas()
        os.sync()

    def run_pass(self, p: Pass, k: int) -> None:
        from astro_sdk_spark.functions import (
            dedup_corpus, normalize_text, quality_score, strip_html,
        )
        from astro_sdk_spark.functions.ann_index import (
            ann_index_compact, ann_index_topk, build_ann_index, drop_ann_index,
        )
        from astro_sdk_spark.functions.sampling import deterministic_split
        from astro_sdk_spark.functions.text import lang_id, token_count
        from astro_sdk_spark.streaming.ops import stream_ann_index_ingest

        ctx, spark = self.ctx, self.ctx.spark
        traced = ctx.tracer.enabled
        persisted = []

        def stage(span, build):
            """One curation stage: build the lazy plan (which may already
            launch Spark jobs), persist it, fingerprint it."""
            with p.op(span) as rec:
                t0 = time.perf_counter()
                df = build().persist()
                rec["build_s"] = time.perf_counter() - t0
                _, p.prints[span] = fingerprint(df)
            persisted.append(df)
            return df

        docs = spark.read.parquet(self.docs)
        text = stage("functions.cleaning", lambda: normalize_text(
            strip_html(docs).select("doc_id", F.col("plain_text").alias("text"))
        ).select("doc_id", F.col("norm_text").alias("text")))
        kept = stage("functions.text", lambda: text.withColumn(
            "lang", lang_id(F.col("text"))).join(
            quality_score(text).select("doc_id", "quality_score"), "doc_id"
        ).filter(F.col("quality_score") >= 0.5).select("doc_id", "text", "lang"))
        keep_ids = None

        def dedup():
            nonlocal keep_ids
            keep_ids = dedup_corpus(kept)
            return kept.join(keep_ids, "doc_id", "left_semi")

        deduped = stage("functions.dedup", dedup)
        stage("functions.sampling", lambda: deterministic_split(
            deduped, "doc_id").filter(F.col("split") == "train")
            .withColumn("n_tokens", token_count(F.col("text"))))
        if p.capture:
            with p.untimed():
                p.captured["survivors"] = [
                    self.n_docs, p.prints["functions.cleaning"][0],
                    p.prints["functions.text"][0], p.prints["functions.dedup"][0],
                    p.prints["functions.sampling"][0]]
                p.captured["keep_outside_input"] = keep_ids.join(
                    kept, "doc_id", "left_anti").count()
        for df in persisted:
            df.unpersist()

        idx = "bench_ann"
        drop_ann_index(spark, idx)
        with p.op("functions.ann_index.build"):
            build_ann_index(spark, spark.read.parquet(self.vectors), idx,
                            centroids=spark.createDataFrame(self.centroids, self.schema),
                            codebooks=self.codebooks)
        with p.op("streaming.ann_ingest") as rec:
            q = stream_ann_index_ingest(
                spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1)
                .parquet(self.stream_dir), idx, ctx.path(f"ck/{k}/ann"))
            await_stream(q)
        if traced:
            rec.update(stream_progress([q]))

        def topk(probes):
            return ann_index_topk(spark, spark.createDataFrame(probes, self.schema), idx,
                                  nprobe=2, k=self.top_k)

        if p.capture:
            with p.untimed():
                # every probe in one call, before compaction: the single
                # requests after it must give the same answers
                p.captured["topk"] = [fingerprint(topk(self.probes))[1]]
        with p.op("functions.ann_index.compact"):
            ann_index_compact(spark, idx, min_files=2)
        # one closed-loop caller: each request waits for the previous reply
        singles = []
        for i in range(self.n_probes):
            with p.op("functions.ann_index.topk") as rec:
                fdf, fp = fingerprint(topk(self.probes.iloc[i:i + 1]))
            if traced:
                rec["files_read"] = files_read(fdf)
            singles.append(fp)
        p.prints["topk"] = tuple(singles)
        if p.capture:
            p.captured["topk"].append(
                (sum(n for n, _ in singles), sum(h for _, h in singles)))
        drop_ann_index(spark, idx)

    def check(self, captured: dict) -> list[str]:
        """Survivor counts never grow from one stage to the next, the dedup
        keep-list is a subset of its input, and top-k answers are the same
        before and after compaction."""
        failures = []
        before, after = captured.get("topk", (None, None))
        if before is None or before[0] != self.n_probes * self.top_k:
            failures.append(f"top-k did not answer {self.top_k} rows per probe: {before}")
        if before != after:
            failures.append("top-k answers changed across compaction")
        counts = captured.get("survivors", [])
        if not counts or any(a < b for a, b in zip(counts, counts[1:])):
            failures.append(f"survivor counts grow across stages: {counts}")
        if captured.get("keep_outside_input", 1) != 0:
            failures.append("dedup keep-list holds ids outside its input")
        return failures


WORKLOADS = {w.name: w for w in (SqlElt, CurateAnn)}
