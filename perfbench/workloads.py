"""The two workloads. Each runs a fixed, seeded op sequence from one client
(closed loop: the next op starts when the previous one's ``collect()`` has
returned), times every op from the API call to the collected result, and
checks every result against ``oracle`` outside the timed region."""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle

K = gen.K
# setup_s is the median of this many set-ups in one run: the first (cold)
# one, which launches the JVM and also runs a warm-up op of every kind, and
# one in the warm JVM. With the stolen share taken out, the cold set-up
# varies less from run to run than a warm one.
SETUP_REPS = 2
WARM_QUERY = "w1 w2 w3"


def velesql_sql(category: int) -> str:
    return (f"SELECT id FROM docs WHERE category = {int(category)} "
            f"AND vector NEAR $v LIMIT {K}")


def match_sql(start: int) -> str:
    return (f"MATCH (a:Doc {{id: {int(start)}}})-[:CITES]->(b:Doc)"
            f"-[:LINKS]->(c:Doc) RETURN c.id AS id LIMIT 100000")


def clear_caches(spark) -> None:
    from velesdb_spark.functions.staging import release_staged

    release_staged()
    spark.catalog.clearCache()


def cached_bytes(spark) -> int:
    """Memory + disk held by persisted RDDs, from Spark's storage status."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def spark_pids() -> list[int]:
    """This Python driver and the Spark JVM it launched."""
    from pyspark import SparkContext

    return [os.getpid(), SparkContext._gateway.proc.pid]


def cpu_s(pids) -> float:
    """utime + stime of the processes ``pids`` (all threads), in seconds."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    guest's vCPUs, from /proc/stat; 0.0 where it is not available."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class Client:
    """One closed-loop client. ``call`` runs one op and records its latency
    and the CPU time the driver and the JVM spent on it (and, when traced,
    its per-layer counters)."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.pids = spark_pids()
        self.records: list[dict] = []
        self.raised = 0
        self.wrong: list[str] = []

    def call(self, op_id, kind: str, api):
        """Run ``api()``; collect it when it returns a DataFrame. Returns
        (ok, collected rows or the plain return value); ok is False when the
        op raised."""
        from pyspark.sql import DataFrame

        tr = self.tracer
        rec = {"op": op_id, "kind": kind}
        if tr is not None:
            tr.op_id = op_id
            tr.set_group(f"op{op_id}-build")
            span = tr.begin(f"client.{kind}", "client")
            p0 = tr.py4j
        c0 = cpu_s(self.pids)
        s0 = steal_s()
        t0 = time.perf_counter()
        df = None
        try:
            out = api()
            t1 = time.perf_counter()
            if isinstance(out, DataFrame):
                df = out
                if tr is not None:
                    rec["py4j_build"] = tr.py4j - p0
                    tr.set_group(f"op{op_id}-exec")
                    with tr.span("operators.collect", "operators"):
                        out = df.collect()
                else:
                    out = df.collect()
            elif tr is not None:
                rec["py4j_build"] = tr.py4j - p0
        except Exception:  # counted as failed; the run goes on
            self.raised += 1
            print(f"op {op_id} ({kind}) raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            if tr is not None:
                tr.end(span)
                tr.clear_group()
            return False, None
        t2 = time.perf_counter()
        rec["cpu_s"] = cpu_s(self.pids) - c0
        rec["steal_s"] = steal_s() - s0
        rec["latency_s"] = t2 - t0
        rec["build_s"] = t1 - t0
        rec["exec_s"] = t2 - t1 if df is not None else 0.0
        if tr is not None:
            tr.end(span)
            tr.clear_group()
            rec["jobs_build"], tasks_b = tr.jobs_and_tasks(f"op{op_id}-build")
            rec["jobs_exec"], tasks_e = tr.jobs_and_tasks(f"op{op_id}-exec")
            rec["tasks"] = tasks_b + tasks_e
            if df is not None:
                pm = tr.plan_metrics(df)
                rec.update(pm)
                rec["result_rows"] = len(out)
            tr.op_id = None
        self.records.append(rec)
        return True, out

    def check(self, op_id, kind: str, problem: str) -> None:
        if problem:
            self.wrong.append(f"op {op_id} ({kind}): {problem}")


def _pairs(rows):
    return [(int(r["id"]), float(r["score"])) for r in rows]


# ------------------------------------------------------------------ retrieval
class Retrieval:
    """Agent/RAG session on an in-memory collection with a cached BM25
    index; reads only, storage never touched."""

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.ops = gen.load_ops(data_dir)
        self.col = None

    def setup(self, spark, warm_up: bool) -> dict:
        from velesdb_spark.database import Collection

        pts = spark.read.parquet(os.path.join(self.data_dir, "points.parquet"))
        edges = spark.read.parquet(os.path.join(self.data_dir,
                                                "edges.parquet"))
        col = Collection(spark, "docs", dimension=gen.DIM, metric="cosine",
                         df=pts, text_col="text", edges=edges)
        t = time.perf_counter()
        col.text_search(WARM_QUERY, K).collect()  # builds + caches BM25
        index_build_s = time.perf_counter() - t
        t = time.perf_counter()
        if warm_up:
            warm = pts.select("vector").first()["vector"]
            col.search(warm, K).collect()
            col.hybrid_search(WARM_QUERY, warm, K).collect()
            col.query(velesql_sql(0), {"v": warm}).collect()
            col.query(match_sql(0)).collect()
            col.get(0)
        self.col = col
        return {"index_build_s": index_build_s,
                "warm_up_s": time.perf_counter() - t}

    def run(self, client: Client) -> list:
        col = self.col
        apis = {
            "knn": lambda o: col.search(o["vector"], K),
            "text": lambda o: col.text_search(o["query"], K),
            "hybrid": lambda o: col.hybrid_search(o["query"], o["vector"], K),
            "velesql": lambda o: col.query(velesql_sql(o["category"]),
                                           {"v": o["vector"]}),
            "match": lambda o: col.query(match_sql(o["start"])),
            "get": lambda o: col.get(o["id"]),
        }
        return [client.call(o["op"], o["kind"],
                            lambda o=o: apis[o["kind"]](o))
                for o in self.ops]

    def check(self, client: Client, results: list) -> None:
        corpus = oracle.Corpus.from_table(
            pq.read_table(os.path.join(self.data_dir, "points.parquet")))
        graph = oracle.Graph(pq.read_table(os.path.join(self.data_dir,
                                                        "edges.parquet")))
        for o, (ok, got) in zip(self.ops, results):
            if not ok:
                continue
            client.check(o["op"], o["kind"], check_op(corpus, graph, o, got))

    def end_state(self, spark) -> dict:
        return {}

    def cleanup(self) -> None:
        pass


# ------------------------------------------------------------------ ingest
class Ingest:
    """Writes beside reads on a durable collection (LogStore segments)."""

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.ops = gen.load_ops(data_dir)
        self.root = os.path.join(work_dir, "run", f"ingest-{os.getpid()}")
        self.path = os.path.join(self.root, "db")
        self.col = None

    def setup(self, spark, warm_up: bool) -> dict:
        """The first set-up creates the durable collection and loads the
        base into it; every later one reopens the collection from its
        directory, as a restarted service would, and builds the BM25 index
        again. The timed ops run on the last one."""
        from velesdb_spark.database import Collection, Database

        pts = spark.read.parquet(os.path.join(self.data_dir, "points.parquet"))
        t = time.perf_counter()
        if self.col is None:
            col = Database(spark, path=self.path).create_collection(
                "docs", dimension=gen.DIM, metric="cosine", text_col="text")
            col.upsert(pts)
            col.flush()
        else:
            col = Collection(spark, "docs", dimension=gen.DIM, metric="cosine",
                             text_col="text",
                             path=os.path.join(self.path, "docs"))
        open_s = time.perf_counter() - t
        t = time.perf_counter()
        col.text_search(WARM_QUERY, K).collect()  # builds + caches BM25
        index_build_s = time.perf_counter() - t
        t = time.perf_counter()
        if warm_up:
            col.search(pts.select("vector").first()["vector"], K).collect()
            col.get(0)
        self.col = col
        return {"open_s": open_s, "index_build_s": index_build_s,
                "warm_up_s": time.perf_counter() - t}

    def _compact(self):
        self.col.flush()
        self.col.store.vacuum()

    def run(self, client: Client) -> list:
        """Ops run in order; after every write the collection's count and
        the next read-after-write get are checked against a Python model
        (outside the timed region)."""
        col, spark = self.col, client.spark
        model = oracle.Corpus.from_table(
            pq.read_table(os.path.join(self.data_dir, "points.parquet")))
        self.upsert_rows = 0
        self.upsert_s = []
        self.user_bytes = 0
        self.written_bytes = 0
        results = []
        for o in self.ops:
            kind = o["kind"]
            if kind in ("upsert", "delete", "compact"):
                before = _files(self.path)
            if kind == "upsert":
                path = os.path.join(self.data_dir, o["batch"])
                ok, got = client.call(o["op"], kind, lambda p=path: col.upsert(
                    spark.read.parquet(p)))
                batch = pq.read_table(path)
                if ok:
                    self.upsert_rows += o["rows"]
                    self.upsert_s.append(client.records[-1]["latency_s"])
                    self.user_bytes += batch.nbytes
                model.upsert(oracle.Corpus.from_table(batch))
            elif kind == "delete":
                ok, got = client.call(o["op"], kind,
                                      lambda o=o: col.delete(o["ids"]))
                model.delete(o["ids"])
            elif kind == "compact":
                ok, got = client.call(o["op"], kind, self._compact)
            else:
                api = {"get": lambda: col.get(o["id"]),
                       "knn": lambda: col.search(o["vector"], K),
                       "text": lambda: col.text_search(o["query"], K)}[kind]
                ok, got = client.call(o["op"], kind, api)
                if ok:
                    client.check(o["op"], kind,
                                 check_op(model, None, o, got))
            if kind in ("upsert", "delete", "compact"):
                after = _files(self.path)
                self.written_bytes += sum(b for f, b in after.items()
                                          if f not in before)
            if kind in ("upsert", "delete"):
                n = col.count()
                if n != len(model):
                    client.check(o["op"], kind,
                                 f"count {n}, model {len(model)}")
            results.append((ok, got))
        return results

    def check(self, client: Client, results: list) -> None:
        pass  # checked inline, after every op

    def end_state(self, spark) -> dict:
        """space_amp and storage counters at the end of the timed phase."""
        from metrics import space_amp

        col = self.col
        stored = sum(_files(self.path).values())
        fresh = os.path.join(self.root, "fresh")
        shutil.rmtree(fresh, ignore_errors=True)
        col.df.write.parquet(os.path.join(fresh, "points"))
        fresh_bytes = sum(_files(fresh).values())
        shutil.rmtree(fresh, ignore_errors=True)
        m = col.store._read_manifest()
        return {"space_amp": space_amp(stored, fresh_bytes),
                "write_amp": self.written_bytes / max(self.user_bytes, 1),
                "upsert_rows_per_s": self.upsert_rows / sum(self.upsert_s),
                "live_segments": len(m["segments"]) + (1 if m["snapshot"]
                                                       else 0),
                "stored_bytes": stored}

    def cleanup(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


WORKLOADS = {"retrieval": Retrieval, "ingest": Ingest}


def _files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


# ------------------------------------------------------------------ checks
def check_op(corpus: oracle.Corpus, graph, o: dict, got) -> str:
    """'' when ``got`` is the right answer for op ``o`` on ``corpus``."""
    kind = o["kind"]
    if kind == "get":
        want = corpus.get(o["id"])
        if want is None:
            return "" if got is None else f"deleted id {o['id']} returned"
        if got is None:
            return f"id {o['id']} missing"
        vec = np.asarray(got["vector"], dtype=np.float32)
        if (got["text"] != want[1] or int(got["category"]) != want[2]
                or vec.shape != want[0].shape or not np.array_equal(
                    vec, want[0])):
            return f"id {o['id']} holds stale or wrong values"
        return ""
    if kind == "knn":
        ids, sc = corpus.knn_scores(o["vector"])
        return oracle.same_ranking(_pairs(got), oracle.top(ids, sc, K))
    if kind == "velesql":
        ids, sc = corpus.knn_scores(o["vector"], o["category"])
        want = oracle.top(ids, sc, K)
        got_ids = [int(r["id"]) for r in got]
        score = dict(zip(ids.tolist(), sc.tolist()))
        if any(i not in score for i in got_ids):
            return "id outside the WHERE filter"
        return oracle.same_ranking([(i, score[i]) for i in got_ids], want)
    if kind == "text":
        ids, sc = corpus.bm25_scores(o["query"])
        return oracle.same_ranking(_pairs(got), oracle.top(ids, sc, K))
    if kind == "hybrid":
        vi, vs = corpus.knn_scores(o["vector"])
        ti, ts = corpus.bm25_scores(o["query"])
        want = oracle.rrf(oracle.top(vi, vs, 2 * K), oracle.top(ti, ts, 2 * K),
                          K)
        return oracle.same_ranking(_pairs(got), want)
    if kind == "match":
        got_ids = sorted(int(r["id"]) for r in got)
        want = graph.two_hop(o["start"], corpus.rows)
        return "" if got_ids == want else \
            f"{len(got_ids)} paths, expected {len(want)}"
    return f"unknown op kind {kind}"
