"""The workloads: set-up, timed phase, correctness checks.

Each workload is a function ``(ctx) -> dict`` that does its set-up, runs
its timed phase through the program's public functions, checks the
outputs, and returns its metrics. ``ctx`` (a :class:`Ctx`) carries the
session, the tracer, the run directory and the failure counters.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import defaultdict

import gen
import oracle

# Input sizes, chosen so a whole run (session start included) fits the
# benchmark's time envelope on a 4-core host; see NOTES.md.
SEARCH_DOCS = 5_000
SEARCH_CLIENTS = 2
SEARCH_K = 10
SEARCH_BM25_SAMPLES = 3
INGEST_DOCS = 600
INGEST_UPSERT_BATCHES = 2
INGEST_UPSERT_BATCH_SIZE = 100
NEARDUP_RECALL_FLOOR = 0.9


def tree_cpu_s(spark=None) -> float:
    """CPU seconds (user + system) used so far by this process and every
    live descendant, including the children each has reaped: the Python
    driver, the Spark JVM (in local mode it runs the executors too) and
    any Python workers it forks.

    Given the session, the JVM counts only its Java threads (driver, py4j
    and executor task threads), not the JIT compiler and garbage
    collector threads that run beside them: on a host whose CPUs are
    shared with other tenants, those background threads' CPU time swings
    with the neighbours' load and the run's age, not with the work."""
    jvm_pid = jvm_threads_s = None
    if spark is not None:
        jvm = spark.sparkContext._jvm
        jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
        mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        jvm_threads_s = sum(t for t in mx.getThreadCpuTime(mx.getAllThreadIds()) if t > 0) / 1e9
    procs, kids = {}, defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we scanned
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks = [int(x) for x in fields[11:15]]  # utime, stime, cutime, cstime
        # the JVM's own utime + stime are replaced by its threads' below
        procs[int(d)] = sum(ticks[2:] if int(d) == jvm_pid else ticks)
        kids[int(fields[1])].append(int(d))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, 0)
        todo.extend(kids[pid])
    return total / os.sysconf("SC_CLK_TCK") + (jvm_threads_s or 0.0)


class Ctx:
    def __init__(self, *, spark, tracer, work_dir: str, seed: int, seconds: float,
                 start_wall: float, start_cpu: float):
        self.spark, self.tracer = spark, tracer
        self.work_dir, self.seed, self.seconds = work_dir, seed, seconds
        self.start_wall, self.start_cpu = start_wall, start_cpu
        self.setup_wall_s = self.setup_cpu_s = float("nan")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.checks: list[tuple[str, bool, str]] = []
        self._lock = threading.Lock()

    def setup_done(self) -> None:
        """Mark the end of set-up: session start, inputs, any index build."""
        self.setup_wall_s = time.perf_counter() - self.start_wall
        self.setup_cpu_s = tree_cpu_s(self.spark) - self.start_cpu

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def attempt(self, fn, *args, **kwargs):
        """Run one counted operation; returns ``(ok, result, seconds)``."""
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
            ok = True
        except Exception as e:  # a failed operation is counted, not fatal
            out, ok = None, False
            with self._lock:
                self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
        dt = time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            self.failed += 0 if ok else 1
        return ok, out, dt

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)


# ---------------------------------------------------------------- search_closed_loop


def search_closed_loop(ctx: Ctx) -> dict:
    from bigdatasearchpro_spark import api

    spark, tr = ctx.spark, ctx.tracer
    os.makedirs(ctx.path("src"))
    corpus = gen.search_corpus(ctx.seed, ctx.path("src"), n_docs=SEARCH_DOCS)
    with tr.span("api.bulk_data_to_index"):
        api.bulk_data_to_index(spark, spark.read.parquet(corpus["path"]), "corpus",
                               id_col="doc_id")
    # a serving process has answered queries before: one op of each kind
    # runs before timing, so no timed op pays for a first-time code path
    for kind, q, text_col in gen.warmup_ops(corpus["vocab"]):
        if kind == "count":
            api.get_index_data_count(spark, "corpus", query=q)
        else:
            api.query_data(spark, q, "corpus", k=SEARCH_K, text_col=text_col).collect()
    ctx.setup_done()
    index_bytes = dir_bytes(ctx.path("warehouse", "corpus"))

    results: list[tuple] = []  # (kind, query, latency, ok, result, client)
    lock = threading.Lock()

    def client(cid: int) -> None:
        ops = gen.search_ops(ctx.seed, cid, corpus["vocab"], 10_000)
        for i, (kind, q, text_col) in enumerate(ops):
            if time.perf_counter() >= deadline:
                return
            if kind == "count":
                with tr.span("api.get_index_data_count", op_id=f"c{cid}-{i}"):
                    ok, out, dt = ctx.attempt(api.get_index_data_count, spark, "corpus", query=q)
            else:
                with tr.span("api.query_data", op_id=f"c{cid}-{i}") as sp:
                    ok, out, dt = ctx.attempt(
                        lambda: api.query_data(spark, q, "corpus", k=SEARCH_K,
                                               text_col=text_col).collect())
                    if sp is not None and ok:
                        sp["hits"] = len(out)
            with lock:
                results.append((kind, q, dt, ok, out, cid))

    cpu0, all0 = tree_cpu_s(spark), tree_cpu_s()
    deadline = time.perf_counter() + ctx.seconds
    threads = [threading.Thread(target=client, args=(c,)) for c in range(SEARCH_CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    cpu_s, all_s = tree_cpu_s(spark) - cpu0, tree_cpu_s() - all0
    # closed loop without think time: each client's rate is its completed
    # ops over its busy time; the clients' rates add up
    done = sum(1 for r in results if r[3])
    if not done:
        raise RuntimeError(f"no search op completed: {ctx.errors[:3]}")
    ops_per_s = sum(sum(1 for r in results if r[5] == c and r[3])
                    / sum(r[2] for r in results if r[5] == c)
                    for c in range(SEARCH_CLIENTS))

    # checks: every count against the oracle; sampled keyword top-k
    # against an independent BM25
    table = corpus["table"]
    ref = oracle.BM25Oracle(list(zip(*(table.column(c).to_pylist()
                                       for c in table.column_names))))
    for kind, q, _, ok, out, _ in results:
        if ok and kind == "count":
            ctx.check(f"count {q!r}", out == ref.count(q), f"{out} vs {ref.count(q)}")
        if ok and kind != "count":
            ctx.check(f"{kind} {q!r} returns <= k hits", len(out) <= SEARCH_K, str(len(out)))
    sampled = list(dict.fromkeys(q for kind, q, _, ok, _, _ in results
                                 if ok and kind == "keyword"))[:SEARCH_BM25_SAMPLES]
    for q in sampled:
        out = next(o for kind, qq, _, ok, o, _ in results if qq == q and ok and kind == "keyword")
        got = [(str(r["doc_id"]), float(r["score"])) for r in out]
        want = ref.topk(q, SEARCH_K)
        ctx.check(f"BM25 top-{SEARCH_K} {q!r}", oracle.same_ranking(got, want),
                  f"got {got[:3]} want {want[:3]}")
    ctx.check("at least one keyword query checked against BM25", len(sampled) > 0)

    q_lat = [r[2] for r in results if r[0] != "count" and r[3]]
    c_lat = [r[2] for r in results if r[0] == "count" and r[3]]
    return {
        "cpu_s_per_op": cpu_s / done,
        "index_bytes_per_source_byte": index_bytes / corpus["bytes"],
        "named": [
            ("query_p50_s", _median(q_lat), f"s (n={len(q_lat)})"),
            ("query_p90_s", _p90(q_lat), f"s (n={len(q_lat)}; a p90 needs n >= 100)"),
            ("count_p50_s", _median(c_lat), f"s (n={len(c_lat)})"),
            ("search_ops_per_s", ops_per_s, f"1/s ({SEARCH_CLIENTS} clients, {done} ops)"),
            ("all_cpu_s_per_op", all_s / done, "s (JIT and GC threads included)"),
            *[(f"{kind}_p50_s", _median(lat), f"s (n={len(lat)})")
              for kind in gen.KIND_NAMES
              for lat in [[r[2] for r in results if r[0] == kind and r[3]]]],
            ("index_bytes_per_source_byte", index_bytes / corpus["bytes"], "B/B"),
        ],
    }


# ---------------------------------------------------------------- ingest_pipeline


def ingest_pipeline(ctx: Ctx) -> dict:
    """Curate a raw crawl stage by stage, publish it as an index, apply
    an upsert burst, reconcile the count. Write-only: never searches."""
    from bigdatasearchpro_spark import api
    from bigdatasearchpro_spark.operators import curation, dedup, neardup, textstats
    from bigdatasearchpro_spark.sinks import bulk

    spark, tr = ctx.spark, ctx.tracer
    os.makedirs(ctx.path("src"))
    corpus = gen.curation_corpus(ctx.seed, ctx.path("src"), n_docs=INGEST_DOCS)
    batches = gen.upsert_batches(ctx.seed, corpus["ids"], n_batches=INGEST_UPSERT_BATCHES,
                                 batch_size=INGEST_UPSERT_BATCH_SIZE)
    schema = "seq int, op string, doc_id string, text string, split string"
    ctx.setup_done()

    def write(df, path):
        with tr.span("sinks.bulk.bulk_index_parquet"):
            return bulk.bulk_index_parquet(df, path)

    def stage(name, fn):
        with tr.span(name, op_id=ctx.attempted):
            ok, out, dt = ctx.attempt(fn)
        if not ok:
            raise RuntimeError(f"{name} failed: {ctx.errors[-1]}")
        return out, dt

    lat = {"pass": [], "curation": [], "load": [], "upsert": [], "count": []}
    rows_loaded, index_bytes, cpu_s, all_s, cycles = 0, 0, 0.0, 0.0, 0
    start = time.perf_counter()
    while cycles == 0 or time.perf_counter() - start < ctx.seconds:
        out, index = ctx.path(f"stages_{cycles}"), f"docs_{cycles}"
        cpu0, all0, p0 = tree_cpu_s(spark), tree_cpu_s(), time.perf_counter()
        docs = spark.read.parquet(corpus["path"])
        stage("operators.curation.gopher_rules",
              lambda: write(curation.gopher_rules(docs), f"{out}/1_quality"))
        kept = docs.join(spark.read.parquet(f"{out}/1_quality").filter("keep")
                         .select("doc_id"), "doc_id", "left_semi")
        stage("operators.dedup.dedup_exact_by_hash",
              lambda: write(dedup.dedup_exact_by_hash(kept, "text", "doc_id"),
                            f"{out}/2_exact"))
        s2 = spark.read.parquet(f"{out}/2_exact")
        stage("operators.neardup.minhash_lsh_pairs",
              lambda: write(neardup.dedup_by_pairs(s2, neardup.minhash_lsh_pairs(s2)),
                            f"{out}/3_near"))
        s3 = spark.read.parquet(f"{out}/3_near")
        stage("operators.curation.decontaminate",
              lambda: write(curation.decontaminate(s3, spark.read.parquet(corpus["bench_path"])),
                            f"{out}/4_flagged"))
        clean = s3.join(spark.read.parquet(f"{out}/4_flagged").select("doc_id"),
                        "doc_id", "left_anti")
        stage("operators.textstats.dataset_split",
              lambda: write(textstats.dataset_split(clean), f"{out}/5_split"))
        lat["curation"].append(time.perf_counter() - p0)
        # publish: the reference's bulkData2Es call shape (id column only)
        res, dt = stage("api.bulk_data_to_index",
                        lambda: api.bulk_data_to_index(
                            spark, spark.read.parquet(f"{out}/5_split"), index, id_col="doc_id"))
        lat["load"].append(dt)
        rows_loaded += res["rows"]
        index_bytes += dir_bytes(ctx.path("warehouse", index))
        for rows in batches:
            with tr.span("api.bulk_mixed", op_id=ctx.attempted):
                ok, items, dt = ctx.attempt(
                    lambda: api.bulk_mixed(spark, index, spark.createDataFrame(rows, schema),
                                           id_col="doc_id").collect())
            lat["upsert"].append(dt)
            if ok:
                bad = [i for i in items if i["result"] not in ("created", "updated")]
                ctx.check("bulk_mixed items all applied", not bad, str(bad[:3]))
        with tr.span("api.get_index_data_count", op_id=ctx.attempted):
            ok, n, dt = ctx.attempt(api.get_index_data_count, spark, index)
        lat["count"].append(dt)
        cpu_s += tree_cpu_s(spark) - cpu0
        all_s += tree_cpu_s() - all0
        lat["pass"].append(time.perf_counter() - p0)
        _check_curation(ctx, corpus, out)
        _check_published(ctx, out, index, res, n, batches)
        cycles += 1
    n_docs = corpus["rows"] * cycles
    return {
        "cpu_s_per_op": cpu_s / cycles,
        "index_bytes_per_source_byte": index_bytes / (corpus["bytes"] * cycles),
        "named": [
            ("ingest_docs_per_s", n_docs / sum(lat["pass"]), "docs/s"),
            ("ingest_pass_p50_s", _median(lat["pass"]), f"s (n={cycles})"),
            ("all_cpu_s_per_op", all_s / cycles, "s (JIT and GC threads included)"),
            ("curation_docs_per_s", n_docs / sum(lat["curation"]), "docs/s"),
            ("etl_rows_per_s", rows_loaded / sum(lat["load"]), "rows/s"),
            ("upsert_batch_p50_s", _median(lat["upsert"]), f"s (n={len(lat['upsert'])})"),
            ("count_p50_s", _median(lat["count"]), f"s (n={len(lat['count'])})"),
            ("index_bytes_per_source_byte", index_bytes / (corpus["bytes"] * cycles), "B/B"),
        ],
    }


def _check_published(ctx: Ctx, out: str, index: str, res: dict, count: int,
                     batches: list[list[tuple]]) -> None:
    """Publish wrote every curated doc once; the upserts applied in
    order (last write wins within and across batches); the count
    reconciles."""
    spark = ctx.spark
    curated = {str(r[0]) for r in spark.read.parquet(f"{out}/5_split").select("doc_id").collect()}
    ctx.check("published rows == curated docs", res["rows"] == len(curated),
              f"{res['rows']} vs {len(curated)}")
    last = {}
    for rows in batches:
        for r in rows:
            last[r[2]] = r[3]
    want = len(curated | set(last))
    ctx.check("count == curated + newly upserted ids", count == want, f"{count} vs {want}")
    got = {r[0]: r[1] for r in spark.table(index).filter(
        spark.table(index)["doc_id"].isin(list(last))).select("doc_id", "text").collect()}
    wrong = [k for k, v in last.items() if got.get(k) != v]
    ctx.check(f"last write wins for {len(last)} upserted ids", not wrong, f"wrong: {wrong[:5]}")


def _check_curation(ctx: Ctx, corpus: dict, out: str) -> None:
    spark = ctx.spark
    text_of = dict(zip(corpus["ids"], corpus["texts"]))
    kind_of = dict(zip(corpus["ids"], corpus["kinds"]))
    keep = {r["doc_id"]: r["keep"] for r in spark.read.parquet(f"{out}/1_quality")
            .select("doc_id", "keep").collect()}
    wrong = [i for i, t in text_of.items() if keep.get(i) != oracle.gopher_keep(t)]
    ctx.check("gopher keep flags == independent rules", not wrong, f"wrong: {wrong[:5]}")
    low = [i for i, k in kind_of.items() if k == "low" and keep.get(i)]
    ctx.check("every injected low-quality doc dropped", not low, f"kept: {low[:5]}")
    s2 = {r[0] for r in spark.read.parquet(f"{out}/2_exact").select("doc_id").collect()}
    left = [(d, o) for d, o in corpus["exact_of"].items() if d in s2 and o in s2]
    ctx.check("every injected exact duplicate removed", not left, f"both kept: {left[:5]}")
    s3 = {r[0] for r in spark.read.parquet(f"{out}/3_near").select("doc_id").collect()}
    pairs = [(d, o) for d, o in corpus["near_of"].items() if d in s2 and o in s2]
    found = sum(1 for d, o in pairs if not (d in s3 and o in s3))
    recall = found / len(pairs) if pairs else 0.0
    ctx.check(f"near-dup recall >= {NEARDUP_RECALL_FLOOR}", recall >= NEARDUP_RECALL_FLOOR,
              f"{found}/{len(pairs)}")
    flagged = {r[0] for r in spark.read.parquet(f"{out}/4_flagged").select("doc_id").collect()}
    want = oracle.contaminated({i: text_of[i] for i in s3}, corpus["bench_texts"])
    ctx.check("flagged == independent 8-gram overlap", flagged == want,
              f"missing {sorted(want - flagged)[:5]} extra {sorted(flagged - want)[:5]}")
    cont = [i for i in s3 if kind_of[i] == "contaminated" and i not in flagged]
    ctx.check("every contaminated doc flagged", not cont, f"missed: {cont[:5]}")
    split = spark.read.parquet(f"{out}/5_split").groupBy("split").count().collect()
    n_split = sum(r["count"] for r in split)
    ctx.check("split covers every clean doc once", n_split == len(s3 - flagged)
              and {r["split"] for r in split} <= {"train", "val", "test"},
              f"{n_split} vs {len(s3 - flagged)}")


WORKLOADS = {
    "search_closed_loop": search_closed_loop,
    "ingest_pipeline": ingest_pipeline,
}
