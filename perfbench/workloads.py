"""The benchmark's workloads: inputs, per-repetition reset, the timed call,
output checks and the traced layer profile.

A workload object is driven by run.py in a closed loop with one client:
``reset()`` (untimed) -> ``run(spark)`` (timed) -> ``check()`` (untimed),
repeated. Only ``run`` calls into the package under test.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import shutil
import sqlite3
import time

import alto_corpus as corpus
import registry_tables as tables
from spans import median

# Documents selected by one ingest run and how they are built. The sizes
# keep a warm repetition at a few seconds on a 4-core host (see README).
SPECS = {
    "ingest_full": corpus.CorpusSpec(
        "ingest_full", n_docs=120, doc_kb=100, n_big=2, big_mb=3.0,
        catalog_rows=220, full_sync=True,
    ),
    "ingest_incremental": corpus.CorpusSpec(
        "ingest_incremental", n_docs=300, doc_kb=10, n_big=0, big_mb=0.0,
        catalog_rows=200_000, full_sync=False,
    ),
}
REGISTRY_QUERIES = (
    "dedup_minhash_pairs", "pipeline_tokenizer_ready", "sim_embedding_near_dup_lsh",
    "mm_features", "text_quality", "q5_region_revenue",
)
S3_ENDPOINT, S3_BUCKET = "https://s3.local", "alto-json"
PROFILE_REPEATS = 2


def _key(module, *params) -> str:
    """Cache key of generated inputs: the generator's source and its
    parameters, so a changed generator never reuses stale inputs."""
    with open(module.__file__, "rb") as f:
        return hashlib.sha256(f.read() + repr(params).encode()).hexdigest()[:10]


def _prune(root: str, keep: int = 3) -> None:
    """Bound the disk used by cached inputs: keep the ``keep`` most
    recently used generations of this workload, ``root`` among them."""
    parent, prefix = os.path.dirname(root), os.path.basename(root).split("-")[0]
    if not os.path.isdir(parent):
        return
    dirs = [os.path.join(parent, d) for d in os.listdir(parent)
            if d.startswith(prefix + "-") and not d.endswith("-out")]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in [d for d in dirs if d != root][keep - 1:]:
        shutil.rmtree(d, ignore_errors=True)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class IngestWorkload:
    """``run_pipeline`` over a generated ALTO corpus with ``file://``
    fetch, a local object directory, sqlite UPDATE/INSERT sinks and a
    watermark directory."""

    def __init__(self, name: str, cache_dir: str, seed: int, nproc: int) -> None:
        self.name = name
        self.spec = SPECS[name]
        self.seed = seed
        self.nproc = nproc
        self.root = os.path.join(cache_dir, f"{name}-{_key(corpus, self.spec)}-s{seed}")
        self.out = os.path.join(cache_dir, f"{name}-out")

    # -- inputs ---------------------------------------------------------
    def prepare(self) -> None:
        _prune(self.root)
        self.manifest = corpus.generate(self.root, self.spec, self.seed)
        os.utime(self.root)
        docs = self.manifest["docs"]
        self.selected = sorted(docs)
        self.ok = {r for r, e in docs.items() if e["ok"]}
        expected_docs = corpus.load_expected_docs(self.root)
        self.expected_bytes = {r: corpus.pretty_json(d) for r, d in expected_docs.items()}
        self.input_mb = self.manifest["input_bytes"] / 1e6
        self.db = os.path.join(self.out, "sink.db")
        self.objects = os.path.join(self.out, "objects")
        self.wm_dir = os.path.join(self.out, "watermark")
        self.template = os.path.join(self.out, "template.db")
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        conn = sqlite3.connect(self.template)
        conn.execute("CREATE TABLE representation (id TEXT PRIMARY KEY, schema_transcript TEXT)")
        conn.execute(
            "CREATE TABLE schema_transcript_url (representation_id TEXT, schema_transcript_url TEXT)"
        )
        conn.executemany("INSERT INTO representation (id) VALUES (?)", [(r,) for r in self.selected])
        conn.commit()
        conn.close()

    @property
    def items(self) -> int:
        """Documents that reach a terminal outcome in one repetition."""
        return len(self.selected)

    def config(self):
        from prefect_flow_arc_alto_to_json_spark.pipeline import PipelineConfig

        return PipelineConfig(
            catalog_dir=os.path.join(self.root, "catalog"),
            objects_target=self.objects,
            s3_endpoint=S3_ENDPOINT,
            s3_bucket=S3_BUCKET,
            watermark_dir=self.wm_dir,
            full_sync=self.spec.full_sync,
            # the catalog scan is one small parquet file, hence one
            # partition; spread the fetch over every core
            fetch_partitions=2 * self.nproc,
        )

    def factory(self):
        # picklable by reference; the busy timeout lets concurrent
        # partitions queue on sqlite's single writer lock
        return functools.partial(sqlite3.connect, self.db, timeout=60)

    # -- loop -----------------------------------------------------------
    def reset(self) -> None:
        """Fresh sqlite file, empty object directory, fixed watermark: the
        INSERT sink is not idempotent and the day-granular watermark
        reprocesses its own day, so without this later repetitions would
        do different work."""
        shutil.rmtree(self.objects, ignore_errors=True)
        shutil.copyfile(self.template, self.db)
        shutil.rmtree(self.wm_dir, ignore_errors=True)
        from prefect_flow_arc_alto_to_json_spark.streaming.watermark import WatermarkStore

        WatermarkStore(self.wm_dir).save(corpus.WATERMARK_SINCE)

    def run(self, spark, timings: dict) -> dict:
        from prefect_flow_arc_alto_to_json_spark.pipeline import run_pipeline

        f = self.factory()
        return run_pipeline(spark, self.config(), f, f)

    def sink_state(self) -> dict:
        objects = {}
        if os.path.isdir(self.objects):
            for name in sorted(os.listdir(self.objects)):
                with open(os.path.join(self.objects, name), "rb") as fh:
                    objects[name] = fh.read()
        conn = sqlite3.connect(self.db)
        try:
            reps = dict(conn.execute("SELECT id, schema_transcript FROM representation"))
            urls = conn.execute(
                "SELECT representation_id, schema_transcript_url FROM schema_transcript_url"
            ).fetchall()
        finally:
            conn.close()
        from prefect_flow_arc_alto_to_json_spark.streaming.watermark import WatermarkStore

        return {"objects": objects, "reps": reps, "urls": sorted(urls),
                "watermark": WatermarkStore(self.wm_dir).load()}

    @staticmethod
    def digest(state: dict) -> str:
        h = hashlib.sha256()
        for name, body in state["objects"].items():
            h.update(name.encode() + b"\0" + hashlib.sha256(body).digest())
        h.update(json.dumps([sorted(state["reps"].items()), state["urls"],
                             state["watermark"]]).encode())
        return h.hexdigest()

    def check(self, result: dict) -> tuple[int, int, str, list[str]]:
        """Compare one repetition's sink state with the generator's
        expected values. Returns (attempted, failed, state digest,
        problems). A document fails when its ok/failed outcome, its
        object bytes, its ``representation`` row or its
        ``schema_transcript_url`` rows differ; error strings are not
        compared."""
        state = self.sink_state()
        docs = self.manifest["docs"]
        urls: dict[str, list[str]] = {}
        for rep, url in state["urls"]:
            urls.setdefault(rep, []).append(url)
        bad: set[str] = set()
        problems: list[str] = []
        for rep in self.selected:
            e = docs[rep]
            if e["ok"]:
                good = (
                    state["objects"].get(e["key"]) == self.expected_bytes[rep]
                    and state["reps"].get(rep) == e["transcript"]
                    and urls.get(rep) == [f"{S3_ENDPOINT}/{S3_BUCKET}/{e['key']}"]
                )
            else:
                good = (
                    f"{rep}.xml.json" not in state["objects"]
                    and state["reps"].get(rep) is None
                    and rep not in urls
                )
            if not good:
                bad.add(rep)
        if bad:
            problems.append(f"{len(bad)} documents differ, e.g. {sorted(bad)[:3]}")
        extra = set(state["objects"]) - {docs[r]["key"] for r in self.ok}
        if extra:
            problems.append(f"{len(extra)} unexpected objects")
        if set(urls) - self.ok:
            problems.append("schema_transcript_url rows for documents that failed")
        n_ok = len(self.ok)
        if result != {"processed": n_ok, "failed": len(self.selected) - n_ok}:
            problems.append(f"run_pipeline returned {result}")
        if state["watermark"] != self.manifest["watermark_after"]:
            problems.append(
                f"watermark {state['watermark']} != {self.manifest['watermark_after']}"
            )
            bad.add("<watermark>")
        return len(self.selected), len(bad), self.digest(state), problems

    # -- traced layer profile ---------------------------------------------
    def profile(self, spark, tracer) -> dict:
        """Self time of each layer, measured by materialising the prefix
        plan that ends at the layer with the ``noop`` writer (median of
        PROFILE_REPEATS) and subtracting the previous prefix. The sinks
        are timed on a cached transform result; the watermark layer is
        its load + save."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from prefect_flow_arc_alto_to_json_spark.operators.alto import simplify_alto
        from prefect_flow_arc_alto_to_json_spark.pipeline import catalog_scan, transform
        from prefect_flow_arc_alto_to_json_spark.sinks import (
            write_json_objects,
            write_keyed_updates,
            write_rows_dbapi,
        )
        from prefect_flow_arc_alto_to_json_spark.sources.fetch import fetch_urls
        from prefect_flow_arc_alto_to_json_spark.streaming.watermark import WatermarkStore

        cfg = self.config()
        self.reset()
        since = WatermarkStore(self.wm_dir).load()

        def scan():
            return catalog_scan(spark, cfg.catalog_dir, since, cfg.full_sync)

        def fetched():
            return fetch_urls(scan(), url_col="premis_stored_at",
                              max_concurrency=cfg.fetch_concurrency,
                              partitions=cfg.fetch_partitions)

        # metric name -> the prefix plan that ends at that layer
        prefixes = {
            "catalog_scan.s": scan,
            "fetch.s": fetched,
            "alto.parse_extract_s": lambda: simplify_alto(fetched(), xml_col="body"),
            "alto.serialize_s": lambda: transform(scan(), cfg),
        }
        m: dict[str, float] = {}
        counters: dict[str, dict] = {}
        previous = 0.0
        for name, build in prefixes.items():
            times = []
            for i in range(PROFILE_REPEATS):
                with tracer.span(f"prefix.{name}", repeat=i) as rec:
                    _noop(build())
                times.append(tracer.duration(rec))
            counters[name] = tracer.counters(rec)
            m[name] = median(times) - previous
            previous = median(times)
        m["catalog_scan.rows_in"] = pq.read_metadata(
            os.path.join(cfg.catalog_dir, "file.parquet", "part-0.parquet")).num_rows
        m["catalog_scan.rows_out"] = scan().count()
        fstats = fetched().agg(
            F.sum(F.octet_length("body")), F.count("fetch_error")).first()
        m["fetch.bytes"], m["fetch.errors"] = int(fstats[0] or 0), int(fstats[1])
        for key in ("python_total_s", "python_boot_s", "python_sent_bytes"):
            m[f"fetch.{key}"] = counters["fetch.s"][key]

        result = transform(scan(), cfg).cache()
        try:
            astats = result.agg(
                F.sum(F.when(F.col("alto_error").isNull() & F.col("fetch_error").isNull(),
                             F.size("simplified.text"))),
                F.count("alto_error")).first()
            m["alto.lines_out"], m["alto.errors"] = int(astats[0] or 0), int(astats[1])
            ok = result.where(F.col("fetch_error").isNull() & F.col("alto_error").isNull())
            f = self.factory()
            sinks = {
                "sink.objects": lambda: write_json_objects(
                    ok, cfg.objects_target, key_col="s3_key", json_col="json"),
                "sink.jdbc_update": lambda: write_keyed_updates(
                    ok.select("schema_transcript", F.col("representation_id").alias("id")),
                    f, table="representation", set_col="schema_transcript", key_col="id"),
                "sink.jdbc_insert": lambda: write_rows_dbapi(
                    ok.select("representation_id", "schema_transcript_url"), f,
                    sql="INSERT INTO schema_transcript_url "
                        "(representation_id, schema_transcript_url) VALUES (?, ?)",
                    param_cols=["representation_id", "schema_transcript_url"]),
            }
            for layer, call in sinks.items():
                times = []
                for i in range(PROFILE_REPEATS):
                    self.reset()
                    with tracer.span(layer, repeat=i) as rec:
                        call()
                    times.append(tracer.duration(rec))
                m[f"{layer}.s"] = median(times)
                state = self.sink_state()
                if layer == "sink.objects":
                    m["sink.objects.count"] = len(state["objects"])
                    m["sink.objects.bytes"] = sum(len(b) for b in state["objects"].values())
                    m["sink.objects.bytes_per_input_byte"] = (
                        m["sink.objects.bytes"] / self.manifest["input_bytes"])
                elif layer == "sink.jdbc_update":
                    m["sink.jdbc.rows"] = sum(v is not None for v in state["reps"].values())
                else:
                    m["sink.jdbc.rows"] += len(state["urls"])
        finally:
            result.unpersist()

        times = []
        for i in range(PROFILE_REPEATS):
            store = WatermarkStore(self.wm_dir)
            with tracer.span("streaming.watermark", repeat=i) as rec:
                store.save(store.load())
            times.append(tracer.duration(rec))
        m["watermark.s"] = median(times)
        self.layer_self_s = sum(
            m[k] for k in ("catalog_scan.s", "fetch.s", "alto.parse_extract_s",
                           "alto.serialize_s", "sink.objects.s", "sink.jdbc_update.s",
                           "sink.jdbc_insert.s", "watermark.s"))
        return m


class _OracleCache:
    """The DuckDB connection ``compare`` queries, with each oracle's result
    kept beside the generated tables. An oracle's answer depends only on
    those tables and its SQL text, so a seed's oracles run once per
    checkout; the Spark side is computed afresh on every run."""

    def __init__(self, con, root: str) -> None:
        self.con, self.root = con, root

    def execute(self, sql: str):
        import pandas as pd

        path = os.path.join(self.root, f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            frame = pd.read_pickle(path)  # written below by this benchmark only
        else:
            frame = self.con.execute(sql).fetch_df()
            frame.to_pickle(path + ".tmp")
            os.replace(path + ".tmp", path)
        return _Frame(frame)


class _Frame:
    def __init__(self, frame) -> None:
        self.frame = frame

    def fetch_df(self):
        return self.frame


class RegistryWorkload:
    """A fixed list of registered queries over generated tables, each
    materialised with the ``noop`` writer."""

    name = "registry_doc"

    def __init__(self, cache_dir: str, seed: int, nproc: int) -> None:
        self.seed = seed
        self.nproc = nproc
        self.root = os.path.join(cache_dir, f"registry-{_key(tables)}-s{seed}")
        self.last: dict = {}
        self.check_s: dict[str, float] = {}

    def prepare(self) -> None:
        _prune(self.root)
        self.manifest = tables.generate(self.root, self.seed)
        os.utime(self.root)
        self.input_mb = self.manifest["input_bytes"] / 1e6

    @property
    def items(self) -> int:
        """Input documents the document queries consume per repetition."""
        return self.manifest["rows"]["documents"]

    def reset(self) -> None:
        pass

    def run(self, spark, timings: dict) -> dict:
        from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES

        registry = {**QUERIES, **EXTRA_QUERIES}
        for q in REGISTRY_QUERIES:
            t0 = time.perf_counter()
            df = registry[q](spark, self.root)
            t1 = time.perf_counter()
            _noop(df)
            timings[q] = {"build_s": t1 - t0, "exec_s": time.perf_counter() - t1}
            self.last[q] = df
        return {}

    def check(self, result: dict) -> tuple[int, int, str, list[str]]:
        """Nothing to check per repetition; see :meth:`check_oracles`."""
        return 0, 0, "", []

    def check_oracles(self) -> tuple[int, int, list[str]]:
        """Compare the last repetition's result of every query with its
        registered DuckDB oracle (tests/oracle_harness.py's comparison)."""
        import duckdb

        from prefect_flow_arc_alto_to_json_spark.plans.registry import EXTRA_ORACLES, ORACLES
        from tests.oracle_harness import compare

        oracles = {**ORACLES, **EXTRA_ORACLES}
        con = _OracleCache(duckdb.connect(config={"threads": self.nproc}), self.root)
        problems = []
        try:
            for t in tables.TABLES:
                path = os.path.join(self.root, f"{t}.parquet")
                con.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for q in REGISTRY_QUERIES:
                t0 = time.perf_counter()
                try:
                    compare(self.last[q], con, oracles[q], q)
                except Exception as exc:  # noqa: BLE001 — reported as a failed query
                    problems.append(f"{q}: {type(exc).__name__}: {str(exc)[:300]}")
                self.check_s[q] = time.perf_counter() - t0
        finally:
            con.con.close()
        return len(REGISTRY_QUERIES), len(problems), problems

    def profile(self, spark, tracer, cold: dict) -> dict:
        """Per query: build (query function with its eager jobs), plan
        (``executedPlan``) and warm exec, each a span with its Spark
        counters; codegen is the cold repetition's exec minus warm exec."""
        from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES, QUERIES

        registry = {**QUERIES, **EXTRA_QUERIES}
        m: dict[str, float] = {}
        self.layer_self_s = 0.0
        for q in REGISTRY_QUERIES:
            builds, plans, execs = [], [], []
            for i in range(PROFILE_REPEATS):
                with tracer.span(f"plans.{q}.build", repeat=i) as b:
                    df = registry[q](spark, self.root)
                with tracer.span(f"plans.{q}.plan", repeat=i) as p:
                    df._jdf.queryExecution().executedPlan()
                with tracer.span(f"plans.{q}.exec", repeat=i) as e:
                    _noop(df)
                builds.append(tracer.duration(b))
                plans.append(tracer.duration(p))
                execs.append(tracer.duration(e))
            bc, ec = tracer.counters(b), tracer.counters(e)
            m[f"plans.{q}.build_s"] = median(builds)
            m[f"plans.{q}.build_jobs"] = bc["jobs"]
            m[f"plans.{q}.plan_s"] = median(plans)
            m[f"plans.{q}.exec_s"] = median(execs)
            m[f"plans.{q}.codegen_s"] = cold[q]["exec_s"] - median(execs)
            m[f"plans.{q}.shuffle_write_bytes"] = ec["shuffle_write_bytes"]
            m[f"plans.{q}.spill_bytes"] = ec["spill_bytes"]
            m[f"plans.{q}.python_total_s"] = ec["python_total_s"] + bc["python_total_s"]
            self.layer_self_s += median(builds) + median(execs)
        return m


def make(name: str, cache_dir: str, seed: int, nproc: int):
    if name == "registry_doc":
        return RegistryWorkload(cache_dir, seed, nproc)
    if name in SPECS:
        return IngestWorkload(name, cache_dir, seed, nproc)
    raise SystemExit(f"unknown workload {name!r}")
