"""The benchmark's workloads, correctness gates and end-to-end metrics.

Each workload function takes a :class:`Run` (Spark session, seeded
corpus, counters) and fills ``run.metrics``.  Workloads drive only the
engine's public API.  Every timed operation that raises counts as failed;
every gate comparison that differs counts as failed too.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs

N_DOCS = 20_000
SETUPS = 5
WARM_DOCS = 5_000  # the untimed warm-up build
K = 10
# The engine's default one-task postings budget (Σdf): single queries at
# or below it run in-process, above it as a Spark job.
ONE_TASK_POSTINGS = 1 << 16
HEAVY_EVERY = 3
BATCH_SIZE = 64
MAP_BATCH = 20  # two exact copies of the serving mix
MAP_PER_REPLICA = 4  # batches per replica in one replica-mode map call
# The tail reported as op_tail_ms: a percentile with ten samples or more
# beyond it at each workload's sample count (at least 200 served
# requests; at least 36 single facade calls, one in three a Spark job).
TAIL_PCT = {"serve-zipf": 90, "spark-batch": 70}
# serve-zipf: the decoded-postings cache budget per serving process.  The
# budget is sized to this corpus the way the default 256 MB is sized to a
# 10x larger one: a replica (whole index) overflows it, a quarter shard
# fits.
SERVE_CACHE_MB = 16
WARMUP_QUERIES = 160  # a multiple of the serving mix's block of ten
GATE_BRUTE = 12
REPLAY = 150  # queries replayed in-process by the traced run
GATE_SERVED = 32
GATE_LOCAL = 16
# The timed loops run a fixed number of operations, sized per second of
# ``--seconds``, so the work done, the caches and the memory a run ends
# with do not depend on how fast the host happened to be.  Each is
# (per second, minimum, multiple): the minimum keeps ten samples beyond
# the tail percentile (and three batches, so the median drops the
# session's cold one); the multiple is the mix's block.  A loop stops
# early only after CAP x ``--seconds``, to end the run in bounded time.
SHARD_OPS = (50, 200, 10)       # serve-zipf shard-mode requests
CHUNK_OPS = (0.6, 6, 1)         # serve-zipf replica-mode map calls
SINGLE_OPS = (3.75, 36, 3)      # spark-batch single facade calls
BATCH_OPS = (0.34, 3, 1)        # spark-batch 64-query batches
CAP = 4


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def vm_hwm_mb() -> float:
    """Peak resident set of this process."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def private_mb(pid: int) -> float:
    """Memory only ``pid`` holds: its private pages.  A forked serving
    worker shares its parent's pages until it writes them, so its own
    resident set would count the parent again."""
    kb = 0
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith(("Private_Clean:", "Private_Dirty:")):
                kb += int(line.split()[1])
    return kb / 1024.0


def shown(value) -> str:
    """A compared value for an error message: a list's first three
    items, anything else whole."""
    return repr(value[:3] if isinstance(value, list) else value)


def fresh_copy(index_dir: str, copy_dir: str) -> str:
    """A copy of the built index that the engine sees as another build:
    its own directory and, when the manifest has one, its own
    ``build_id``.  The engine keys its per-process caches (term
    statistics, scan plans, decoded postings) on these, so opening the
    copy starts from cold caches, as a fresh build or process would."""
    from pim_lucene_spark.manifest import IndexManifest
    shutil.copytree(index_dir, copy_dir)
    m = IndexManifest.load(copy_dir)
    if getattr(m, "build_id", ""):
        m.build_id = f"{m.build_id}-{os.path.basename(copy_dir)}"
        m.save()
    return copy_dir


def typed(spec: inputs.QuerySpec):
    """QuerySpec → engine query: the text for phrase, term and zero-hit
    queries (an exact phrase, or a term when one token), else a
    ``BooleanQuery`` / ``DisMaxQuery``."""
    from pim_lucene_spark import BooleanQuery, DisMaxQuery
    if spec.kind == "bool":
        roles = {"must": [], "should": [], "must_not": []}
        for role, text in spec.clauses:
            roles[role].append(text)
        return BooleanQuery(**roles)
    if spec.kind == "dismax":
        return DisMaxQuery([t for _, t in spec.clauses], tie=0.1)
    return spec.text


def ranked(frame: pd.DataFrame) -> list[tuple[int, float]]:
    """One query's hits as (doc_id, score) in (score desc, doc asc)."""
    if frame is None or not len(frame):
        return []
    f = frame.sort_values(["score", "doc_id"], ascending=[False, True])
    return list(zip(f["doc_id"].astype(np.int64).tolist(),
                    f["score"].astype(np.float64).tolist()))


def by_qid(frame: pd.DataFrame) -> dict[int, list]:
    if frame is None or not len(frame):
        return {}
    return {int(q): ranked(g) for q, g in frame.groupby("qid")}


class Run:
    """State of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.nproc = os.cpu_count() or 1
        # serving workers: every shard-mode request waits for all shards,
        # so shard mode uses half the cores (on 4 cores, 2 shards answered
        # in 23 ms what 4 did in 35, and slowed 6% instead of 22% when
        # another process took one core); replica mode leaves one core to
        # the driver, which sends the batches and merges the replies
        self.shards = max(self.nproc // 2, 1)
        self.replicas = max(self.nproc - 1, 1)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.tracer = None
        self.timing = False
        self.setups = SETUPS    # one in a traced run (no setup_s there)
        self.rss_workers_mb = 0.0
        self.t_start = time.perf_counter()
        self.phases: list[tuple[str, float]] = []
        self.corpus = inputs.make_corpus(seed, N_DOCS)
        self.contents = self.corpus.contents()
        self.input_bytes = sum(len(c.encode()) for c in self.contents)
        import pyarrow as pa
        import pyarrow.parquet as pq
        path = os.path.join(work, "corpus.parquet")
        pq.write_table(pa.table({"doc_id": self.corpus.doc_ids,
                                 "content": self.contents}), path)
        self.docs = spark.read.parquet(path)
        self.phase("inputs")

    # --- bookkeeping ---------------------------------------------------
    def op(self, fn, *args, **kwargs):
        """One attempted operation; an exception counts as failed.  In a
        timed loop of a traced run each operation is one request."""
        self.attempted += 1
        if self.tracer is not None:
            self.tracer.next_request(self.timing)
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # a failed request is data, keep going
            self.fail(f"{getattr(fn, '__name__', fn)}: {exc!r}")
            return None

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(msg)

    def check(self, label: str, got, want) -> None:
        self.attempted += 1
        if got != want:
            self.fail(f"mismatch {label}: got {shown(got)} "
                      f"want {shown(want)}")

    def count(self, ops: tuple[float, int, int]) -> int:
        """Operations in a timed loop: ``per_s`` per second of
        ``--seconds``, at least ``minimum``, in whole ``multiple``s."""
        per_s, minimum, multiple = ops
        n = max(minimum, round(per_s * self.seconds))
        return -(-n // multiple) * multiple

    def more(self, done: int, n: int, t0: float) -> bool:
        """Whether a timed loop that started at ``t0`` runs operation
        ``done`` of its ``n``."""
        return done < n and time.perf_counter() - t0 < CAP * self.seconds

    def phase(self, name: str) -> None:
        """Mark the end of a phase (wall seconds since the run began)."""
        self.phases.append((name, round(time.perf_counter() - self.t_start,
                                        1)))

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def latency_metrics(self, workload: str, lat: list[float],
                        block: int) -> None:
        """``op_block_mean_ms``: the mean of the middle half of the block
        means, where a block is ``block`` consecutive operations (one
        exact copy of the workload's mix) and its mean is one mix's cost.
        A plain median would sit between the fast and the slow kinds of a
        mixed stream and jump between them from run to run; dropping the
        outer quarters ignores the blocks a host stall hit.
        ``op_tail_ms``: the workload's tail percentile."""
        self.op_lat = lat
        n = len(lat) // block * block
        means = np.sort(np.asarray(lat[:n]).reshape(-1, block).mean(axis=1))
        q = means.size // 4
        self.metric("op_block_mean_ms",
                    float(means[q:means.size - q].mean()) * 1e3, "ms")
        self.metric("op_tail_ms", pct(lat, TAIL_PCT[workload]) * 1e3, "ms")

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def note_workers(self) -> None:
        """Private memory of the live serving workers, read at the end of
        a serving phase (their caches only grow), added once each."""
        for p in mp.active_children():
            try:
                self.rss_workers_mb += private_mb(p.pid)
            except OSError:
                pass

    # --- set-up --------------------------------------------------------
    def setup(self, open_fn) -> object:
        """Warm the session up with an untimed build of a slice of the
        corpus (the session's first jobs pay for starting the JVM's code
        and the Python workers, which is Spark's cost, not the engine's),
        then build the whole index (``build_docs_per_s``) and set the
        workload up ``setups`` times with ``open_fn(index_dir)``
        (``setup_s``: the median), each time on a fresh copy of the built
        index, so every set-up starts from cold engine caches.  A set-up
        that holds resources (a server) is closed before the next one.
        Returns the last set-up."""
        from pim_lucene_spark import FullTextIndex
        FullTextIndex.build(self.spark,
                            self.docs.filter(self.docs.doc_id < WARM_DOCS),
                            os.path.join(self.work, "warm"), id_col="doc_id")
        d = os.path.join(self.work, "index")
        t0 = time.perf_counter()
        FullTextIndex.build(self.spark, self.docs, d, id_col="doc_id")
        build_s = time.perf_counter() - t0
        times, opened = [], None
        for i in range(self.setups):
            if hasattr(opened, "close"):
                opened.close()
            copy = fresh_copy(d, os.path.join(self.work, f"setup{i}"))
            t0 = time.perf_counter()
            opened = open_fn(copy)
            times.append(time.perf_counter() - t0)
        self.setup_times = [build_s] + times
        self.metric("build_docs_per_s", self.corpus.num_docs / build_s, "1/s")
        self.metric("setup_s", float(np.median(times)), "s")
        self.metric("index_bytes_per_input_byte",
                    dir_bytes(d) / self.input_bytes, "ratio")
        return opened

    def finish(self) -> None:
        self.phase("gates")
        self.metric("rss_peak_mb", vm_hwm_mb() + self.rss_workers_mb, "MB")

    # --- gates ---------------------------------------------------------
    def gate_brute_force(self, texts: list[str], got: dict[str, list]):
        """Indexed results must equal the full-scan reference, scores
        float-exact, in (score desc, doc asc) order."""
        from pim_lucene_spark.plans.router import brute_force_search
        texts = [t for t in dict.fromkeys(texts) if t in got][:GATE_BRUTE]
        ref = self.op(lambda: brute_force_search(
            self.docs, list(enumerate(texts)), k=K).toPandas())
        if ref is None:
            return
        want = by_qid(ref)
        for i, t in enumerate(texts):
            self.check(f"brute-force {t!r}", got[t], want.get(i, []))


# --- serve-zipf --------------------------------------------------------

def serve_zipf(run: Run) -> None:
    """Resident serving through ``ShardedServer``: shard mode under a
    closed loop of single requests, then replica mode under a closed loop
    of ``map`` over 20-query batches."""
    from pim_lucene_spark import FullTextIndex
    from pim_lucene_spark.serving import ShardedServer

    def open_server(index_dir):
        srv = ShardedServer(index_dir, run.shards, mode="shard",
                            postings_cache_mb=SERVE_CACHE_MB)
        srv.search([(0, "def")], k=K)
        return srv

    srv = run.setup(open_server)
    run.index = FullTextIndex.open(run.spark, srv.manifest.index_dir)
    run.phase("setup")
    # long enough for any sane speed-up; the loops wrap around if not
    stream = inputs.serve_stream(run.corpus, run.seed, 8_000)
    queries = [typed(s) for s in stream]
    nq = len(stream)
    served: dict[str, list] = {}
    pos = 0

    def batches(n):
        nonlocal pos
        out = []
        for _ in range(n):
            out.append([(pos + j, queries[(pos + j) % nq])
                        for j in range(MAP_BATCH)])
            pos += MAP_BATCH
        return out

    try:
        # fill the shards' caches with the head of the stream first
        srv.map(batches(WARMUP_QUERIES // MAP_BATCH), k=K)
        run.phase("warm-up")
        # closed loop, one request at a time: latency is each request's
        # own round trip (an open loop at a fixed rate queues behind slow
        # requests, so its latency grows faster than the host slows down)
        lat, gaps, replies = [], [], []
        n = run.count(SHARD_OPS)
        run.timing = True
        t0 = prev_end = time.perf_counter()
        while run.more(len(lat), n, t0):
            start = time.perf_counter()
            gaps.append(start - prev_end)
            res = run.op(srv.search, [(pos, queries[pos % nq])], k=K)
            prev_end = time.perf_counter()
            lat.append(prev_end - start)
            if res is not None:
                replies.append((pos, res))
            pos += 1
        run.timing = False
        run.note_workers()
    finally:
        srv.close()
    run.phase("shard loop")
    run.latency_metrics("serve-zipf", lat, len(inputs.SERVE_MIX))
    run.late_ms = [x * 1e3 for x in gaps]

    with ShardedServer(run.index.manifest.index_dir, run.replicas,
                       mode="replica",
                       postings_cache_mb=SERVE_CACHE_MB) as rep:
        rep.map(batches(run.replicas * MAP_PER_REPLICA), k=K)
        # closed loop: map calls of MAP_PER_REPLICA batches per replica;
        # the rate is the median over calls, so a short stall moves one
        # call only
        rates, n = [], run.count(CHUNK_OPS)
        run.timing = True
        t0 = time.perf_counter()
        while run.more(len(rates), n, t0):
            chunk = batches(run.replicas * MAP_PER_REPLICA)
            t1 = time.perf_counter()
            res = run.op(rep.map, chunk, k=K)
            if res is not None:
                rates.append(sum(len(b) for b in chunk)
                             / (time.perf_counter() - t1))
                for b, frame in zip(chunk, res):
                    hits = by_qid(frame)
                    replies.extend((qid, hits.get(qid, [])) for qid, _ in b)
        run.timing = False
        run.note_workers()
    run.metric("ops_per_s", float(np.median(rates)), "1/s")
    run.rates = rates
    run.phase("replica loop")
    used = stream[:min(pos, nq)]
    run.replay_specs = stream[:REPLAY]
    run.batch_specs = inputs.batch_stream(run.corpus, run.seed, BATCH_SIZE)

    # every reply of the timed loops; a repeated query must get the same
    # hits every time it is served
    for qid, res in replies:
        key = stream[qid % nq].key()
        hits = res if isinstance(res, list) else ranked(res)
        first = served.setdefault(key, hits)
        if first is not hits:
            run.check(f"repeat {key}", hits, first)

    # gates: served results equal the distributed facade on the same
    # queries; its term/phrase results equal the full-scan reference
    seen = [s for s in dict.fromkeys(used)
            if s.key() in served][:GATE_SERVED]
    dist = run.op(lambda: run.index.query(
        [(i, typed(s)) for i, s in enumerate(seen)], k=K).toPandas())
    if dist is not None:
        d = by_qid(dist)
        for i, s in enumerate(seen):
            run.check(f"served=distributed {s.key()}", served[s.key()],
                      d.get(i, []))
        plain = {s.text: d.get(i, []) for i, s in enumerate(seen)
                 if s.kind in ("phrase", "term")}
        run.gate_brute_force(list(plain), plain)
    run.finish()


# --- spark-batch ---------------------------------------------------------

def spark_batch(run: Run) -> None:
    """The Spark facade, one caller, closed loop: single-query
    ``FullTextIndex.search`` calls including ``collect``, then batches of
    64 mixed queries through ``FullTextIndex.query``."""
    from pim_lucene_spark import FullTextIndex

    def open_index(index_dir):
        idx = FullTextIndex.open(run.spark, index_dir)
        idx.search([(0, "def")], k=K).collect()
        return idx

    idx = run.index = run.setup(open_index)
    run.phase("setup")
    singles = inputs.single_stream(run.corpus, run.seed, 1_000, HEAVY_EVERY,
                                   ONE_TASK_POSTINGS)
    got: dict[str, list] = {}
    lat, late = [], []
    n = run.count(SINGLE_OPS)
    run.timing = True
    t0 = prev_end = time.perf_counter()
    i = 0
    while run.more(i, n, t0):
        text = singles[i % len(singles)].text
        start = time.perf_counter()
        late.append(start - prev_end)

        rows = run.op(lambda: idx.search([(0, text)], k=K).collect())
        prev_end = time.perf_counter()
        lat.append(prev_end - start)
        if rows is not None:
            hits = sorted(((int(r["doc_id"]), float(r["score"]))
                           for r in rows), key=lambda h: (-h[1], h[0]))
            first = got.setdefault(text, hits)
            if first is not hits:
                run.check(f"repeat {text!r}", hits, first)
        i += 1
    run.timing = False
    run.late_ms = [x * 1e3 for x in late]
    run.replay_specs = singles[:REPLAY]
    run.latency_metrics("spark-batch", lat, HEAVY_EVERY)
    run.phase("single loop")

    bstream = inputs.batch_stream(run.corpus, run.seed, 2_000)
    rates, bpos, n = [], 0, run.count(BATCH_OPS)
    batch_results = []
    run.timing = True
    t0 = time.perf_counter()
    while run.more(bpos // BATCH_SIZE, n, t0):
        batch = [(j, typed(bstream[(bpos + j) % len(bstream)]))
                 for j in range(BATCH_SIZE)]
        t1 = time.perf_counter()
        res = run.op(lambda: idx.query(batch, k=K).toPandas())
        if res is not None:
            rates.append(BATCH_SIZE / (time.perf_counter() - t1))
            if not batch_results:
                batch_results.append((bpos, res))
        bpos += BATCH_SIZE
    run.timing = False
    run.metric("ops_per_s", float(np.median(rates)), "1/s")
    run.rates = rates
    run.batch_specs = bstream[:BATCH_SIZE]
    run.phase("batch loop")

    # gates: brute force on sampled singles; the in-process serving path
    # must return the distributed results for the same queries
    texts = list(got)
    run.gate_brute_force(texts, got)
    for t in texts[:GATE_LOCAL]:
        local = run.op(idx.search_local, [(0, t)], k=K)
        if local is not None:
            run.check(f"served=distributed {t!r}", ranked(local), got[t])
    if batch_results:
        bpos0, dist = batch_results[0]
        specs = bstream[bpos0:bpos0 + BATCH_SIZE]  # the first batch
        local = run.op(idx.query_local,
                       [(j, typed(s)) for j, s in enumerate(specs)], k=K)
        if local is not None:
            lq, dq = by_qid(local), by_qid(dist)
            for j, s in enumerate(specs):
                run.check(f"served=distributed {s.key()}", lq.get(j, []),
                          dq.get(j, []))
    run.finish()


WORKLOADS = {"serve-zipf": serve_zipf, "spark-batch": spark_batch}
