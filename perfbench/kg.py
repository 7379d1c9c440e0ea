"""The ``kg_build`` workload: full knowledge-graph construction.

Untraced: set up (materialize the seeded synth pages to parquet, three
times; the build reads the last copy), then the measured pass: one
``pipeline.run_pipeline(resume=False)`` over all pages in a fresh output
directory, the session's first build — a KG build as a batch job runs
it. Its raw_statements and pa_statements counts are checked against the
pure-Python twin ``synth.reference_statements``.

Traced, after the same build: extraction forced alone, one 1k-page
``supplement_corpus`` batch, and a serving sweep over
``api.load_context(bucketed=True)`` — first through
``server.handle_request`` under one job group per request, then over HTTP
from ``server.serve_background`` with 4 client threads, every response
checked against the sweep's body.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import statistics
import sys
import threading
import time
import urllib.request

from probes import percentile

PAGES = 5_000  # base corpus size (pages)
BATCH = 1_000  # pages in the supplement batch (traced run)
SETUP_REPEATS = 3

STAGES = ["raw_statements", "pa_base", "pa_link", "components", "belief", "meta"]
# the operator call that starts each stage's work in run_pipeline
STAGE_ENTRY = {
    "raw_statements": ("extract", "extract_statements"),
    "pa_base": ("dedup", "build_pa_statements"),
    "pa_link": ("refine", "build_pa_link"),
    "components": ("components", "assign_components"),
    "belief": ("belief", "with_belief"),
    "meta": ("meta", "build_name_meta"),
}
ROUTES = ["statements", "statements_json", "relations", "agents", "interactions"]


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    """path → (size, mtime_ns) for every file under root."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(d, n))
            out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or rewritten between two dir_files snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)


class Hooks:
    """Wraps engine entry points from outside, for the life of a ``with``.

    * ``storage.write_table`` — every table write goes through it
      (run_pipeline, scoped_overwrite, append_lazy) — is timed into
      ``write_s``.
    * While ``stage_groups`` is on, the operator call that starts each
      pipeline stage switches the Spark job group to ``pipeline.<stage>``
      and leaves it set, so every job from that stage's first operator
      call to the next stage's is attributed to it: eager jobs inside the
      stage's own code, the write, and the read-back."""

    def __init__(self, spans) -> None:
        import importlib

        self._spans = spans
        self.stage_groups = False
        self.write_s = 0.0
        storage = importlib.import_module("indra_db_spark.sources.storage")
        self._patches = [(storage, "write_table", self._timed(storage.write_table))]
        for stage, (mod, fn) in STAGE_ENTRY.items():
            m = importlib.import_module(f"indra_db_spark.operators.{mod}")
            self._patches.append((m, fn, self._grouped(getattr(m, fn), stage)))
        self._originals = [(m, n, getattr(m, n)) for m, n, _ in self._patches]

    def _timed(self, fn):
        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.write_s += time.perf_counter() - t0

        return wrapped

    def _grouped(self, fn, stage: str):
        def wrapped(*a, **kw):
            if self.stage_groups:
                self._spans.set_group(f"pipeline.{stage}")
            return fn(*a, **kw)

        return wrapped

    def __enter__(self) -> "Hooks":
        for m, n, f in self._patches:
            setattr(m, n, f)
        return self

    def __exit__(self, *exc) -> None:
        for m, n, f in self._originals:
            setattr(m, n, f)


def twin_counts(n: int, seed: int) -> tuple[int, int]:
    """(raw_statements, pa_statements) rows the twin predicts for pages
    [0, n): raw = distinct evidence units (extraction dedups page-locally),
    pa = distinct matches keys."""
    from indra_db_spark.sources.synth import reference_statements

    ref = reference_statements(n, seed=seed)
    raw = {(e["url"], e["matches_key"], e["source"], e["evidence_text"]) for e in ref}
    return len(raw), len({e["matches_key"] for e in ref})


def check_build(b, res, n: int, what: str) -> tuple[int, int]:
    """Count one build as an operation; it fails unless its raw and pa
    row counts equal the twin's for n pages."""
    want = twin_counts(n, b.seed)
    got = (
        res.tables["raw_statements"].count(),
        res.tables["pa_statements"].count(),
    )
    b.attempted += 1
    b.check(got == want, f"{what}: (raw, pa) = {got}, twin says {want}")
    return got


def run(b) -> None:
    from indra_db_spark.pipeline import run_pipeline
    from indra_db_spark.sources.synth import source_expr, synth_pages

    spark, seed = b.spark, b.seed
    b.meta["input"] = {"pages": PAGES, "synth_seed": seed}
    for k in range(SETUP_REPEATS):
        pages_dir = f"{b.work}/pages{k}"
        with b.spans.span("setup.pages", group=False):
            synth_pages(spark, PAGES, seed=seed).write.parquet(pages_dir)
    b.setup_s = b.spans.times["setup.pages"]
    pages = spark.read.parquet(pages_dir)

    hooks = Hooks(b.spans)
    with hooks:
        out_dir = f"{b.work}/corpus"
        hooks.stage_groups = True
        b.spans.set_group("pipeline.prologue")
        with b.spans.span("pass", group=False):
            res = run_pipeline(
                spark, pages, out_dir, pages_fingerprint=f"synth-{seed}",
                resume=False, source_expr=source_expr,
            )
        hooks.stage_groups = False
        b.spans.set_group("bench.check")
        got = check_build(b, res, PAGES, "build")
        b.peak_rss_at_measure_end()
        corpus_bytes = sum(s for s, _ in dir_files(out_dir).values())
        b.meta["counts"] = {"raw_statements": got[0], "pa_statements": got[1]}
        b.meta["stage_wall_s"] = {st: res.metrics[st]["wall_secs"] for st in STAGES}
        b.extra["build_docs_per_s"] = (PAGES / b.spans.times["pass"][0], "1/s")
        b.extra["corpus_bytes_per_page"] = (corpus_bytes / PAGES, "B")
        if not b.trace:
            return

        build_write_s = hooks.write_s
        layers = b.layers
        for st in STAGES:
            layers[f"pipeline.{st}.wall_s"] = res.metrics[st]["wall_secs"]

        def stage_layers(groups: dict) -> None:
            for st in STAGES:
                rec = groups.get(f"pipeline.{st}", {})
                for key in ("shuffle_bytes", "spill_bytes", "task_skew", "tasks"):
                    layers[f"pipeline.{st}.{key}"] = rec.get(key, 0)

        b.finishers.append(stage_layers)
        layers["operators.dedup.raw_rows_per_pa"] = got[0] / got[1]
        files = dir_files(out_dir)
        layers["sources.storage.build_bytes_written"] = corpus_bytes
        layers["sources.storage.build_files_written"] = len(files)
        b.extra["build_write_s"] = (build_write_s, "s")

        _extract_alone(b, pages)
        _supplement(b, hooks, out_dir)
        _serve(b, out_dir)


def _extract_alone(b, pages) -> None:
    from indra_db_spark.operators.extract import extract_statements

    with b.spans.span("operators.extract"):
        extract_statements(pages).write.format("noop").mode("overwrite").save()
    b.layers["operators.extract.pages_per_s"] = PAGES / b.spans.times["operators.extract"][0]


def _supplement(b, hooks, out_dir: str) -> None:
    """One BATCH-page supplement_corpus batch (pages PAGES.. of the same
    seeded corpus) against the built corpus."""
    from pyspark.sql import functions as F

    from indra_db_spark.sources.synth import source_expr, synth_pages
    from indra_db_spark.streaming.supplement import supplement_corpus

    spark, seed = b.spark, b.seed
    b.meta["input"]["supplement_batch_pages"] = BATCH
    b.spans.set_group("bench.setup")
    idx = F.regexp_extract("url", r"doc/(\d+)", 1).cast("long")
    batch_dir = f"{b.work}/batch_pages"
    synth_pages(spark, PAGES + BATCH, seed=seed).where(idx >= PAGES).write.parquet(batch_dir)
    _, want_pa = twin_counts(PAGES + BATCH, seed)

    before, w0 = dir_files(out_dir), hooks.write_s
    with b.spans.span("streaming.supplement"):
        tables = supplement_corpus(
            spark, out_dir, spark.read.parquet(batch_dir), source_expr=source_expr
        )
    files_n, bytes_n = written_since(before, dir_files(out_dir))
    b.spans.set_group("bench.check")
    got_pa = tables["pa_statements"].count()
    b.attempted += 1
    b.check(got_pa == want_pa, f"supplement: pa_statements {got_pa}, twin says {want_pa}")

    def batch_layers(groups: dict) -> None:
        rec = groups.get("streaming.supplement", {})
        for key in ("jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes"):
            b.layers[f"streaming.supplement.{key}"] = rec.get(key, 0)

    b.finishers.append(batch_layers)
    b.layers["sources.storage.supplement_write_s"] = hooks.write_s - w0
    b.layers["sources.storage.supplement_files_written"] = files_n
    b.extra["supplement_batch_s"] = (b.spans.times["streaming.supplement"][0], "s")
    b.extra["supplement_bytes_written_per_page"] = (bytes_n / BATCH, "B")


def _requests(spark, ctx, out_dir: str, seed: int) -> list[str]:
    """A seeded request mix over the corpus: the hub agent and rare ones,
    type + min_evidence, hash point lookups, a paper id, a keyset page
    chained from the hub's first page, and every route."""
    from urllib.parse import urlencode

    from pyspark.sql import functions as F

    from indra_db_spark import server
    from indra_db_spark.sources import storage

    rng = random.Random(seed)
    pa = storage.read_table(spark, f"{out_dir}/pa_statements")
    names = [
        r["name"]
        for r in pa.groupBy(F.col("subj.name").alias("name"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "name")
        .collect()
    ]
    hub, rare = names[0], names[len(names) // 2 :]
    hashes = [r["mk_hash"] for r in pa.select("mk_hash").orderBy("mk_hash").limit(2000).collect()]
    types = sorted(r["type"] for r in pa.select("type").distinct().collect())
    ev = storage.read_table(spark, f"{out_dir}/evidence")
    urls = [r["url"] for r in ev.select("url").distinct().orderBy("url").limit(500).collect()]

    def url(route: str, **params) -> str:
        return f"/{route}?" + urlencode(params, doseq=True)

    first = url("statements", agent=hub, limit=20)
    last = json.loads(server.handle_request(first, ctx)[1])[-1]
    return [
        first,
        url("statements", agent=hub, limit=20, after=f"{last['ev_count']},{last['mk_hash']}"),
        url("statements", agent=rng.choice(rare), limit=20, sort_by="belief"),
        url("statements", type=rng.choice(types), min_evidence=2, limit=20),
        url("statements", hashes=rng.sample(hashes, 3)),
        url("statements", paper_ids=rng.choice(urls), limit=20),
        url("statements/json", agent=hub, limit=20),
        url("statements/json", agent=rng.choice(rare), limit=20),
        url("relations", agent=hub, limit=50),
        url("relations", agent=rng.choice(rare), limit=50),
        url("agents", agent=hub, limit=50),
        url("agents", agent=rng.choice(rare), limit=50),
        url("interactions", agent=hub, limit=50),
        url("interactions", agent=rng.choice(rare), limit=50),
    ]


def _route(path: str) -> str:
    return path.split("?")[0].strip("/").replace("/", "_")


def _serve(b, out_dir: str) -> None:
    from urllib.parse import parse_qs, urlsplit

    from indra_db_spark import api, server

    spark = b.spark
    with b.spans.span("api.load_context"):
        ctx = api.load_context(spark, out_dir, bucketed=True)
    b.extra["load_context_bucketed_s"] = (b.spans.times["api.load_context"][0], "s")
    b.spans.set_group("bench.setup")
    reqs = _requests(spark, ctx, out_dir, b.seed)

    # serial sweep: one job group per request; the query layers are timed
    # from outside by rebuilding the request's plan before serving it
    bodies, rows = {}, []
    route_ms: dict[str, list[float]] = {r: [] for r in ROUTES}
    layer_ms: dict[str, list[float]] = {"parse": [], "build": [], "collect": []}
    for i, path in enumerate(reqs):
        qs = parse_qs(urlsplit(path).query)
        params = {k: v[0] if len(v) == 1 else v for k, v in qs.items()}
        route = _route(path)
        t0 = time.perf_counter()
        if route in ("statements", "statements_json"):
            q = api.parse_query(params)
            t1 = time.perf_counter()
            getter = "get_statements" if route == "statements" else "get_statements_json"
            getattr(q, getter)(ctx, **api.result_kwargs(params)).schema  # analysed
        else:
            q = api.parse_query({k: v for k, v in params.items() if k != "limit"})
            t1 = time.perf_counter()
            getattr(q, f"get_{route}")(ctx).schema
        t2 = time.perf_counter()
        name = f"server.req{i}"
        with b.spans.span(name):
            status, body = server.handle_request(path, ctx)
        served = b.spans.times[name][0]
        layer_ms["parse"].append((t1 - t0) * 1e3)
        layer_ms["build"].append((t2 - t1) * 1e3)
        # handle_request = parse + build + collect and render
        layer_ms["collect"].append((served - (t2 - t0)) * 1e3)
        route_ms[route].append(served * 1e3)
        b.attempted += 1
        out = json.loads(body)
        ok = status == 200 and isinstance(out, list)
        if ok and "hashes" in params:
            ok = {r["mk_hash"] for r in out} == {int(h) for h in params["hashes"]}
        b.check(ok, f"sweep {path}: status {status}, body {body[:200]!r}")
        bodies[path] = hashlib.md5(body).hexdigest()
        rows.append(len(out) if isinstance(out, list) else 0)

    med = statistics.median
    for r in ROUTES:
        b.layers[f"server.{r}.p50_ms"] = med(route_ms[r])
    b.layers["api.parse_query.ms"] = med(layer_ms["parse"])
    b.layers["plans.query.build_ms"] = med(layer_ms["build"])
    b.layers["plans.query.collect_ms"] = med(layer_ms["collect"])
    b.layers["server.rows_per_request"] = med(rows)

    def request_layers(groups: dict) -> None:
        per_req = [groups.get(f"server.req{i}", {}) for i in range(len(reqs))]
        for key in ("jobs", "tasks", "input_bytes"):
            b.layers[f"spark.{key}_per_request"] = med([g.get(key, 0) for g in per_req])

    b.finishers.append(request_layers)

    _http(b, ctx, reqs, bodies)


def _http(b, ctx, reqs: list[str], bodies: dict[str, str], clients: int = 4) -> None:
    """The serial sweep's requests twice more over HTTP, from
    ``clients`` closed-loop threads; every response must be a 200 whose
    body equals the sweep's. The sweep was the warm-up window: none of
    its timings enter these latencies."""
    from indra_db_spark import server

    srv, thread = server.serve_background(ctx)
    port = srv.server_address[1]
    lat, bad, lock = [], [], threading.Lock()
    todo = list(reqs) * 2  # 28 latencies: p50 needs ten beyond it

    def client() -> None:
        while True:
            with lock:
                if not todo:
                    return
                path = todo.pop()
            t0 = time.perf_counter()
            try:
                with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=120) as r:
                    ok = r.status == 200 and hashlib.md5(r.read()).hexdigest() == bodies[path]
            except OSError as e:  # HTTPError (non-2xx), refused, timed out
                print(f"GET {path}: {e}", file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            with lock:
                lat.append(dt * 1e3)
                if not ok:
                    bad.append(path)

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    srv.shutdown()
    srv.server_close()
    thread.join(timeout=10)
    b.attempted += len(lat)
    for path in bad:
        b.check(False, f"HTTP {path}: not a 200 with the sweep's body")
    b.extra["serve_latency_p50_ms"] = (percentile(lat, 50), "ms")
    b.extra["serve_throughput_rps"] = (len(lat) / wall, "1/s")
    try:
        b.extra["serve_latency_p90_ms"] = (percentile(lat, 90), "ms")
    except ValueError as e:  # too few samples: refuse, never report a thinner tail
        print(f"kg_build serve_latency_p90_ms not reported: {e}")
