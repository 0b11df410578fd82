"""The three workloads: inputs made from the seed, one pass of the calls a
user makes, a traced pass that splits each call into layers, and output
checks.

A pass runs every op of its workload once. ``Runner.op`` runs one op under
a deadline and its own Spark job group, and counts it as attempted and,
if it raises or misses the deadline, as failed.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Dict, List

from pyspark.sql import functions as F

import probes

DEFAULT_SEED = 42

# sizes per workload; "smoke" is the tiny variant used by ``run.py --smoke``
SIZES = {
    "generate": {
        "full": dict(customers=50_000, orders=1_000_000, users=50_000),
        "smoke": dict(customers=500, orders=5_000, users=500),
    },
    "curate": {
        "full": dict(docs=600),
        "smoke": dict(docs=100),
    },
    "stream": {
        "full": dict(events=4_000, users=160, files=2),
        "smoke": dict(events=1_200, users=40, files=3),
    },
}

# Output digests for DEFAULT_SEED at the "full" sizes, on the code this
# benchmark was written against. Any other seed or size is checked by
# the seed-independent invariants only.
PINS: Dict[str, Dict[str, str]] = {
    "generate": {
        "customers": "bc1c21599b4a237d:50000",
        "orders": "71131e5d9bb4f6dd:1000000",
        "users": "a3d54bc7b0aee2bb:39980",
    },
    "curate": {
        "functions.dedup.exact_dedup": "42e8c614c319a169:540",
        "functions.dedup.minhash_near_duplicates": "c85f3f8a2045b3e1:180",
        "functions.curation.curate_corpus": "a8042c10b0577b29:386",
        "functions.dedup.paragraph_dedup": "423402d8a05ac440:600",
        "functions.pii.redact_pii": "f5f5bee0caea2fe9:600",
    },
    "stream": {
        "streaming.stateful.sessionize_with_state": "064bcb17845caa04:3540",
        "streaming.stateful.cdc_latest_with_state": "8ebff604743eb82c:160",
    },
}


@dataclass
class Pass:
    """What one pass measured. ``extra_s`` is wall time spent only by the
    traced pass (its added noop actions), left out of its overhead."""

    wall_s: float = 0.0
    rows: int = 0
    latencies_ms: List[float] = field(default_factory=list)
    outputs: Dict[str, object] = field(default_factory=dict)
    layers: Dict[str, float] = field(default_factory=dict)
    op_wall_s: Dict[str, float] = field(default_factory=dict)
    extra_s: float = 0.0


def rows_digest(rows) -> str:
    """Order-independent digest of collected rows (sum of per-row hashes)."""
    acc = 0
    for r in rows:
        h = hashlib.blake2b(repr(tuple(r)).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) % 2**64
    return f"{acc:016x}:{len(rows)}"


def table_digest(df) -> str:
    """``bit_xor(xxhash64(all columns))`` plus the row count, computed in
    Spark (a ``sum`` of hashes overflows under ANSI)."""
    r = df.agg(
        F.expr("bit_xor(xxhash64(*))").alias("d"), F.count(F.lit(1)).alias("n")
    ).first()
    return f"{(r['d'] or 0) & (2**64 - 1):016x}:{r['n']}"


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# generate
# --------------------------------------------------------------------------


class Generate:
    """Multi-table DataGenPlan (parent + FK child) and one v0 table.

    The parent and the v0 table go to the noop sink, the child through
    ``sources.sinks.write_data_to_output`` to parquet.
    """

    name = "generate"
    warm_min, warm_max_s = 3, 15.0

    def __init__(self, sizes, seed, work):
        self.sizes, self.seed, self.work = sizes, seed, work
        self.out_dir = os.path.join(work, "orders")

    def plan(self, partitions=None):
        import dbldatagen_spark as dg

        s = self.sizes
        return dg.DataGenPlan(
            tables=[
                dg.TableSpec("customers", rows=s["customers"], primary_key="customer_id",
                             partitions=partitions, columns=[
                    dg.ColumnSpec("customer_id", dg.SequenceColumn(start=1), dtype="long"),
                    dg.ColumnSpec("tier", dg.ValuesColumn(
                        ["bronze", "silver", "gold", "platinum"],
                        dg.WeightedValues([60, 25, 10, 5])), dtype="string"),
                    dg.ColumnSpec("score", dg.RangeColumn(0, 1000, distribution=dg.Normal()),
                                  dtype="double", nullable=True, null_fraction=0.05),
                    dg.ColumnSpec("code", dg.PatternColumn("CUS-{digit:6}-{alpha:3}"),
                                  dtype="string"),
                    dg.ColumnSpec("name", dg.FakerColumn("name", pool_size=2000),
                                  dtype="string"),
                    dg.ColumnSpec("signup", dg.TimestampColumn(
                        "2020-01-01 00:00:00", "2024-12-31 23:59:59"), dtype="timestamp"),
                ]),
                dg.TableSpec("orders", rows=s["orders"], primary_key="order_id",
                             partitions=partitions, columns=[
                    dg.ColumnSpec("order_id", dg.SequenceColumn(start=1), dtype="long"),
                    dg.ColumnSpec("customer_id", dg.ForeignKeyColumn(
                        "customers.customer_id", distribution=dg.Zipf(1.3)), dtype="long"),
                    dg.ColumnSpec("amount", dg.RangeColumn(
                        1, 5000, distribution=dg.LogNormal(3.0, 1.0)), dtype="double"),
                    dg.ColumnSpec("qty", dg.RangeColumn(1, 100, distribution=dg.Zipf(1.5)),
                                  dtype="long"),
                    dg.ColumnSpec("sku", dg.PatternColumn("SKU-{hex:8}"), dtype="string"),
                    dg.ColumnSpec("ts", dg.TimestampColumn(
                        "2024-01-01 00:00:00", "2024-12-31 23:59:59"), dtype="timestamp"),
                    dg.ColumnSpec("total", dg.ExpressionColumn("round(amount * qty, 2)")),
                ]),
            ],
            seed=self.seed,
        )

    def build_v0(self, spark, partitions=None):
        from dbldatagen_spark import DataGenerator

        n = self.sizes["users"]
        return (
            DataGenerator(spark, name="users", rows=n, partitions=partitions,
                          randomSeed=self.seed)
            .withColumn("user_id", "long", minValue=1, maxValue=10_000_000,
                        uniqueValues=n)
            .withColumn("phone", "string", template="ddd-ddd-dddd")
            .withColumn("email", "string", template=r"\w.\w@\w.com")
            .withColumn("plan", "string", values=["free", "pro"], weights=[9, 1],
                        random=True)
            .withColumn("signup", "date", begin="2020-01-01", end="2024-12-31",
                        random=True)
            .withSqlConstraint("signup >= '2021-01-01'")
            .build()
        )

    def setup(self, spark) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        self._plan = self.plan()

    def run_pass(self, spark, runner, traced: bool) -> Pass:
        from dbldatagen_spark import generator
        from dbldatagen_spark.plans import planner
        from dbldatagen_spark.sources import sinks

        p = Pass()
        out = sinks.OutputDataset(location=self.out_dir, mode="overwrite")
        t0 = time.perf_counter()
        if traced:
            with probes.timed_attr(planner, "resolve_plan") as resolve:
                frames = runner.op("generator.generate",
                                   lambda: generator.generate(spark, self._plan))
            p.layers["plans.resolve_s"] = resolve.seconds
            p.layers["generator.construct_s"] = (
                runner.last_wall_s - resolve.seconds)
        else:
            frames = runner.op("generator.generate",
                               lambda: generator.generate(spark, self._plan))
        v0 = runner.op("datagen.build", lambda: self.build_v0(spark))
        p.layers["datagen.construct_s"] = runner.last_wall_s
        actions = [
            ("exec.noop_s.customers", lambda: noop(frames["customers"])),
            ("sources.sinks.write_s",
             lambda: sinks.write_data_to_output(frames["orders"], out)),
            ("exec.noop_s.users", lambda: noop(v0)),
        ]
        stages: Dict[str, float] = {}
        for key, fn in actions:
            runner.op(key, fn)
            p.latencies_ms.append(runner.last_wall_s * 1e3)
            p.layers[key] = runner.last_wall_s
            if traced:
                probes.add_metrics(stages, runner.stage_metrics())
        p.wall_s = time.perf_counter() - t0
        s = self.sizes
        p.rows = s["customers"] + s["orders"] + s["users"]
        if traced:
            files = glob.glob(os.path.join(self.out_dir, "*.parquet"))
            p.layers.update({
                "exec.jobs": stages.get("jobs", 0.0),
                "exec.tasks": stages.get("tasks", 0.0),
                "exec.executor_run_s": stages.get("run_s", 0.0),
                "exec.executor_cpu_s": stages.get("cpu_s", 0.0),
                "exec.gc_s": stages.get("gc_s", 0.0),
                "sources.sinks.bytes_mb": sum(map(os.path.getsize, files)) / 2**20,
                "sources.sinks.files": float(len(files)),
            })
        p.outputs["frames"] = frames
        p.outputs["v0"] = v0
        return p

    def check(self, spark, passes: List[Pass], pins) -> Dict[str, str]:
        """Digests at the default partition count (the child read back from
        its parquet sink) must equal a rebuild at another count; no FK
        value may miss its parent."""
        from dbldatagen_spark import generate

        frames = passes[-1].outputs["frames"]
        alt_parts = 3
        alt = generate(spark, self.plan(partitions=alt_parts))
        got = {
            "customers": table_digest(frames["customers"]),
            "orders": table_digest(spark.read.parquet(self.out_dir)),
            "users": table_digest(passes[-1].outputs["v0"]),
        }
        again = {
            "customers": table_digest(alt["customers"]),
            "orders": table_digest(alt["orders"]),
            "users": table_digest(self.build_v0(spark, partitions=alt_parts)),
        }
        bad = {}
        for t in got:
            if got[t] != again[t]:
                bad[t] = f"digest {got[t]} != {again[t]} at {alt_parts} partitions"
            elif t in pins and pins[t] != got[t]:
                bad[t] = f"digest {got[t]} != pinned {pins[t]}"
        orphans = (
            spark.read.parquet(self.out_dir)
            .join(frames["customers"], "customer_id", "left_anti").count()
        )
        if orphans:
            bad["orders.fk"] = f"{orphans} orphan customer_id values"
        self.digests = got
        return bad


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------

_VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "vector", "query",
    "agg", "table", "key", "stream", "filter", "customer", "the",
    "window", "join", "shuffle", "page", "row", "index", "cache",
]


def _curate_ops():
    from dbldatagen_spark import functions as fn

    return [
        ("functions.dedup.exact_dedup",
         lambda d: fn.exact_dedup(d, "doc_id", "text")),
        ("functions.dedup.minhash_near_duplicates",
         lambda d: fn.minhash_near_duplicates(d, "doc_id", "text")),
        ("functions.curation.curate_corpus",
         lambda d: fn.curate_corpus(d, "doc_id", "text", lang="en",
                                    min_quality=0.5)),
        ("functions.dedup.paragraph_dedup",
         lambda d: fn.paragraph_dedup(d, "doc_id", "text")),
        ("functions.pii.redact_pii",
         lambda d: fn.redact_pii(d, "doc_id", "text")),
    ]


class Curate:
    """Five curation operators over a documents table, each built and then
    collected. The corpus plants exact duplicates (id % 10 == 9 copies
    id - 9), near duplicates (id % 10 == 8: id - 8 with one word changed)
    and PII (id % 5 == 2 gains an email and a phone paragraph)."""

    name = "curate"
    warm_min, warm_max_s = 3, 45.0

    def __init__(self, sizes, seed, work):
        self.sizes, self.seed, self.work = sizes, seed, work
        self.path = os.path.join(work, "documents.parquet")

    def setup(self, spark) -> None:
        from dbldatagen_spark import DataGenerator

        s = self.seed
        vocab = "array(" + ", ".join(f"'{w}'" for w in _VOCAB) + ")"
        words = (
            f"transform(sequence(0, 35 + int(pmod(xxhash64({s}, src_id, 3), 30))),"
            f" i -> case when pmod(doc_id, 10) = 8 and i = 3 then 'novel' else"
            f" element_at({vocab}, int(pmod(xxhash64({s}, src_id, i + 100), 30)) + 1)"
            f" end)"
        )
        body = ("array_join(transform(words, (w, i) -> concat(w, case when"
                " pmod(i + 1, 12) = 0 then '\\n\\n' else ' ' end)), '')")
        pii = ("case when pmod(doc_id, 5) = 2 then concat('\\n\\ncontact user',"
               " doc_id, '@example.org or 555-', lpad(cast(pmod(doc_id, 1000) as"
               " string), 3, '0'), '-', lpad(cast(pmod(doc_id * 7, 10000) as"
               " string), 4, '0')) else '' end")
        docs = (
            DataGenerator(spark, name="documents", rows=self.sizes["docs"],
                          randomSeed=s)
            .withColumn("doc_id", "long", expr="id")
            .withColumn("src_id", "long", omit=True, baseColumn="doc_id",
                        expr="case when pmod(doc_id, 10) >= 8 then"
                             " doc_id - pmod(doc_id, 10) else doc_id end")
            .withColumn("words", "array<string>", omit=True,
                        baseColumn=["doc_id", "src_id"], expr=words)
            .withColumn("text", "string", baseColumn=["words", "doc_id"],
                        expr=f"concat({body}, {pii})")
            .withColumn("lang", "string", values=["en", "zh", "es", "de", "fr"],
                        weights=[41, 15, 15, 14, 15], random=True)
            .build()
        )
        docs.write.mode("overwrite").parquet(self.path)
        self.docs = spark.read.parquet(self.path)

    def run_pass(self, spark, runner, traced: bool) -> Pass:
        p = Pass()
        t0 = time.perf_counter()
        for key, build in _curate_ops():
            if not traced:
                rows = runner.op(key, lambda: build(self.docs).collect())
                p.latencies_ms.append(runner.last_wall_s * 1e3)
                p.op_wall_s[key] = runner.last_wall_s
            else:
                df = runner.op(key + ".construct", lambda: build(self.docs))
                construct_s = runner.last_wall_s
                built = runner.stage_metrics()
                runner.op(key + ".exec", lambda: noop(df))
                exec_s = runner.last_wall_s
                p.extra_s += exec_s
                rows = runner.op(key + ".collect", lambda: df.collect())
                collect_s = runner.last_wall_s
                ran = runner.stage_metrics()
                p.latencies_ms.append((construct_s + collect_s) * 1e3)
                p.op_wall_s[key] = construct_s + collect_s
                p.layers.update({
                    key + ".construct_s": construct_s,
                    key + ".construct_jobs": built["jobs"],
                    key + ".exec_s": exec_s,
                    key + ".transfer_s": collect_s - exec_s,
                    key + ".jobs": built["jobs"] + ran["jobs"],
                    key + ".shuffle_mb": built["shuffle_mb"] + ran["shuffle_mb"],
                    key + ".spill_mb": built["spill_mb"] + ran["spill_mb"],
                    key + ".executor_cpu_s": built["cpu_s"] + ran["cpu_s"],
                })
            p.outputs[key] = rows_digest(rows)
            p.outputs[key + ".rows"] = rows
        p.wall_s = time.perf_counter() - t0 - p.extra_s
        p.rows = self.sizes["docs"]
        spark.catalog.clearCache()
        return p

    def check(self, spark, passes: List[Pass], pins) -> Dict[str, str]:
        bad = {}
        n = self.sizes["docs"]
        last = passes[-1].outputs
        for key, _ in _curate_ops():
            seen = {p.outputs[key] for p in passes if key in p.outputs}
            if len(seen) != 1:
                bad[key] = f"passes disagree: {sorted(seen)}"
            elif key in pins and pins[key] != last[key]:
                bad[key] = f"digest {last[key]} != pinned {pins[key]}"
        exact = len(last["functions.dedup.exact_dedup.rows"])
        planted = sum(1 for i in range(n) if i % 10 == 9)
        if exact != n - planted:
            bad["functions.dedup.exact_dedup.count"] = (
                f"{exact} distinct docs, expected {n - planted}")
        emails = sum(r["n_email"] for r in last["functions.pii.redact_pii.rows"])
        if emails != sum(1 for i in range(n) if i % 5 == 2):
            bad["functions.pii.redact_pii.count"] = f"{emails} emails found"
        self.digests = {k: last[k] for k, _ in _curate_ops()}
        return bad


# --------------------------------------------------------------------------
# stream
# --------------------------------------------------------------------------

_STREAM_OPS = (
    "streaming.stateful.sessionize_with_state",
    "streaming.stateful.cdc_latest_with_state",
)


class Stream:
    """Events replayed as time-ordered files, one per trigger
    (``maxFilesPerTrigger=1``, ``availableNow``), through the two stateful
    operators into the noop sink. Files are split by event time and get
    increasing mtimes: an event older than the watermark would make
    ``sessionize_with_state`` raise ``INVALID_TIMEOUT_TIMESTAMP``."""

    name = "stream"
    warm_min, warm_max_s = 3, 24.0
    _T0_US = 1704067200000000  # 2024-01-01 00:00:00 UTC
    _SPAN_US = 7 * 86400 * 10**6

    def __init__(self, sizes, seed, work):
        self.sizes, self.seed, self.work = sizes, seed, work
        self.src = os.path.join(work, "events")
        self._runs = 0

    def setup(self, spark) -> None:
        from dbldatagen_spark import DataGenerator

        s = self.sizes
        nf = s["files"]
        shutil.rmtree(self.src, ignore_errors=True)
        staged = self.src + "-staged"
        shutil.rmtree(staged, ignore_errors=True)
        ev = (
            DataGenerator(spark, name="events", rows=s["events"], randomSeed=self.seed)
            .withColumn("event_id", "long", expr="id")
            .withColumn("ts", "timestamp", begin="2024-01-01 00:00:00",
                        end="2024-01-07 23:59:59", random=True)
            .withColumn("user_id", "long", minValue=1, maxValue=s["users"], random=True)
            .withColumn("event_type", "string",
                        values=["click", "error", "purchase", "signup", "view"],
                        weights=[40, 5, 10, 5, 40], random=True)
            .withColumn("value", "double", minValue=0.0, maxValue=200.0, random=True)
            .build()
        )
        part = F.least(F.lit(nf - 1), F.floor(
            (F.unix_micros("ts") - F.lit(self._T0_US)) / F.lit(self._SPAN_US / nf)
        ).cast("int"))
        (ev.withColumn("_f", part).repartition(nf, "_f")
         .write.partitionBy("_f").parquet(staged))
        os.makedirs(self.src)
        base = time.time() - 3600
        for i in range(nf):
            (f,) = glob.glob(os.path.join(staged, f"_f={i}", "*.parquet"))
            dst = os.path.join(self.src, f"events-{i:04d}.parquet")
            shutil.move(f, dst)
            os.utime(dst, (base + i, base + i))
        shutil.rmtree(staged, ignore_errors=True)
        self.schema = ev.schema

    def _query(self, key, source):
        from dbldatagen_spark.streaming import stateful

        if key.endswith("sessionize_with_state"):
            return stateful.sessionize_with_state(
                source, gap_minutes=30, max_events=50, watermark="1 hour")
        log = source.select(
            "user_id",
            F.col("event_id").alias("seq"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
            F.to_json(F.struct("event_type", "value")).alias("payload"),
        )
        return stateful.cdc_latest_with_state(log, "user_id", "seq",
                                              payload_col="payload")

    def _run_query(self, spark, key, sink, deadline_s):
        self._runs += 1
        ck = os.path.join(self.work, f"ck-{self._runs}")
        source = (spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(self.src))
        w = self._query(key, source).writeStream.format(sink).option(
            "checkpointLocation", ck).trigger(availableNow=True)
        if sink == "memory":
            w = w.queryName(f"check_{self._runs}")
        q = w.start()
        try:
            if not q.awaitTermination(deadline_s):
                raise TimeoutError(f"no end within {deadline_s:.0f}s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception())[:300])
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
        rows = spark.table(f"check_{self._runs}").collect() if sink == "memory" else None
        shutil.rmtree(ck, ignore_errors=True)
        return progress, rows

    def run_pass(self, spark, runner, traced: bool, sink: str = "noop") -> Pass:
        p = Pass()
        t0 = time.perf_counter()
        for key in _STREAM_OPS:
            progress, rows = runner.op(
                key, lambda: self._run_query(spark, key, sink, runner.deadline_s()))
            p.latencies_ms += probes.trigger_latencies_ms(progress)
            p.rows += probes.input_rows(progress)
            p.op_wall_s[key] = runner.last_wall_s
            if traced:
                for k, v in probes.progress_metrics(progress).items():
                    p.layers[f"{key}.{k}"] = v
            if rows is not None:
                p.outputs[key] = rows
        p.wall_s = time.perf_counter() - t0
        return p

    def check_pass(self, spark, runner) -> Pass:
        """A pass into the memory sink, so its output can be checked."""
        return self.run_pass(spark, runner, traced=False, sink="memory")

    def check(self, spark, passes: List[Pass], pins) -> Dict[str, str]:
        bad = {}
        sess_key, cdc_key = _STREAM_OPS
        out = self.checked.outputs
        # the last emission per key is the current row; it must equal the
        # batch operator over the whole log
        final = {}
        for r in out[cdc_key]:
            if r["key"] not in final or r["seq"] > final[r["key"]][1]:
                final[r["key"]] = tuple(r)
        batch = self._query(cdc_key, spark.read.schema(self.schema).parquet(self.src))
        want = {r["key"]: tuple(r) for r in batch.collect()}
        if final != want:
            diff = sum(1 for k in set(final) | set(want) if final.get(k) != want.get(k))
            bad[cdc_key] = f"{diff} keys differ from the batch result"
        closed = [r for r in out[sess_key] if r["closed_by"] in (0, 1)]
        digest = rows_digest(closed)
        if sess_key in pins and pins[sess_key] != digest:
            bad[sess_key] = f"closed-session digest {digest} != pinned {pins[sess_key]}"
        if not closed:
            bad[sess_key] = "no closed sessions"
        cdc_digest = rows_digest(list(want.values()))
        if cdc_key in pins and pins[cdc_key] != cdc_digest:
            bad[cdc_key] = f"current-row digest {cdc_digest} != pinned {pins[cdc_key]}"
        self.digests = {sess_key: digest, cdc_key: cdc_digest}
        return bad


WORKLOADS = {w.name: w for w in (Generate, Curate, Stream)}
