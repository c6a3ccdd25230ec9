"""The benchmark's workloads. Each takes a :class:`run.Bench` and returns
``{metric: (value, unit)}``: the end-to-end metrics untraced, the
per-layer metrics traced.

Both are closed loops with one client. The seed fixes the whole call
sequence, and a run makes a fixed number of calls (scaled from
``--seconds``), never "as many as fit": read cost grows with every
live batch a write leaves behind, so a clock-bounded run would measure
how many writes happened to fit. See README.md for why each workload
exists and what each metric means.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import oracle
from run import FAILED, dir_bytes, file_sizes, median

STANDUPS = 3  # set-up repeats per run; setup_s takes their median

# ---- mixed_rw -------------------------------------------------------------

MIXED_DOCS = 3000
POOL_DOCS = 1000  # fresh contents for upserts
UPSERT_SIZE = 8  # half updates of existing ids, half new ids
DELETE_SIZE = 4
AUTO_COMPACT_BATCHES = 3  # inline compaction once 3 batches are live
ROUND = ("fts", "vector", "write", "scan")
FTS_SHAPES = ("and", "or", "prefix")  # round r runs shape r % 3
WRITES = ("upsert", "upsert", "delete", "delete")  # round r runs r % 4
ROUND_SECONDS = 5.0  # one ROUND on local[2], warm
LIMIT = 10
QUERY_OPERATORS = {"and", "or"}  # never a query term
PAST_END = 10**6

# ---- curate -------------------------------------------------------------

CURATE_DOCS = 2000
PASS_SECONDS = 5.0  # one warm curate_corpus pass on local[2]
WARM_PASSES = 2  # untimed passes first: the pass time falls for two
ALLOWED_LANGS = ("en",)
MIN_QUALITY = 0.35
JACCARD = 0.5


def _rounds(seconds: int, per: float) -> int:
    return max(2, int(round(seconds / per)))


def _stage_docs(c: corpus.Corpus, path: str) -> None:
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(c.embeddings.reshape(-1)), corpus.DIM
    ).cast(pa.list_(pa.float32()))
    pq.write_table(
        pa.table({
            "id": c.ids,
            "content": c.contents,
            "metadata": [json.dumps(m) for m in c.metadatas],
            "embedding": emb,
        }),
        path,
    )


# ---------------------------------------------------------------------------
# mixed_rw


class MixedPlan:
    """The seed's call sequence: warm-up ops, then ``rounds`` × ROUND."""

    def __init__(self, seed: int, rounds: int):
        full = corpus.generate(seed, MIXED_DOCS + POOL_DOCS)
        self.base = full.head(MIXED_DOCS)
        self.vectors: dict[str, list[float]] = {}
        for i in range(MIXED_DOCS, MIXED_DOCS + POOL_DOCS):
            self.vectors[full.contents[i]] = full.embeddings[i].tolist()
        self._pool = list(range(MIXED_DOCS, MIXED_DOCS + POOL_DOCS))
        self._full = full
        self.rng = np.random.default_rng([seed, 1])
        self.rank = {w: r for r, w in enumerate(full.vocab_by_rank)}
        self.warmup = [self.fts(s) for s in FTS_SHAPES] + [
            self.make(k) for k in ("vector", "scan", "upsert", "delete")
        ]
        self.ops = []
        for r in range(rounds):
            for k in ROUND:
                if k == "fts":
                    self.ops.append(self.fts(FTS_SHAPES[r % len(FTS_SHAPES)]))
                else:
                    self.ops.append(self.make(WRITES[r % len(WRITES)]
                                              if k == "write" else k))

    def embed(self, texts):
        return [self.vectors[t] for t in texts]

    def make(self, kind: str):
        rng = self.rng
        if kind == "vector":
            key = f"vq-{len(self.vectors)}"
            c = self.base.centres[int(rng.integers(0, len(self.base.centres)))]
            self.vectors[key] = (c + 0.5 * rng.standard_normal(corpus.DIM)).tolist()
            return ("vector", key)
        if kind == "scan":
            cats = sorted({f"c{int(x):02d}" for x in rng.integers(0, corpus.N_CATS, 2)})
            off = int(rng.integers(0, 40))
            if rng.random() < 0.2:
                off = PAST_END
            return ("scan", cats, float(round(rng.uniform(200, 900), 1)), off)
        if kind == "upsert":
            take = [self._pool.pop(int(rng.integers(0, len(self._pool))))
                    for _ in range(UPSERT_SIZE)]
            old = rng.choice(MIXED_DOCS, UPSERT_SIZE // 2, replace=False)
            ids = [self.base.ids[int(i)] for i in old] + [
                self._full.ids[i] for i in take[UPSERT_SIZE // 2:]
            ]
            return ("upsert", ids, [self._full.contents[i] for i in take],
                    [self._full.metadatas[i] for i in take])
        if kind == "delete":
            ids = rng.choice(MIXED_DOCS, DELETE_SIZE, replace=False)
            return ("delete", [self.base.ids[int(i)] for i in ids])
        raise ValueError(kind)

    def fts(self, shape: str):
        rng, rank = self.rng, self.rank
        vocab = self.base.vocab_by_rank
        if shape == "and":
            # a frequent word of a real doc AND one of its rarer terms
            toks = sorted(self.base.tokens[int(rng.integers(0, MIXED_DOCS))]
                          - QUERY_OPERATORS, key=lambda t: (rank.get(t, -1), t))
            rare = toks[len(toks) // 2:]
            q = f"{toks[0]} {rare[int(rng.integers(0, len(rare)))]}"
        elif shape == "or":
            a, b = rng.integers(100, 3000, 2)
            q = f"{vocab[int(a)]} or {vocab[int(b)]}"
        else:
            w = vocab[int(rng.integers(0, 2000))]
            q = f"{w[:4]}*"
        return ("fts", q)


def _mixed_call(col, plan: MixedPlan, op):
    kind = op[0]
    if kind == "fts":
        return lambda: col.query(op[1], limit=LIMIT)
    if kind == "vector":
        return lambda: col.query(op[1], vector_search=True, limit=LIMIT)
    if kind == "scan":
        where = {"cat": {"$in": op[1]}, "score": {"$lt": op[2]}}
        return lambda: col.get(where=where, order_by=["rating", "-score"],
                               limit=LIMIT, offset=op[3])
    if kind == "upsert":
        return lambda: col.add(op[2], ids=op[1], metadatas=op[3])
    return lambda: col.delete(op[1])


def _mixed_check(state: oracle.State, plan: MixedPlan, op, res):
    kind = op[0]
    if kind == "fts":
        return oracle.check_fts(state, op[1], LIMIT, res)
    if kind == "vector":
        return oracle.check_vector(state, plan.vectors[op[1]], LIMIT, res)
    if kind == "scan":
        return oracle.check_scan(state, op[1], op[2], LIMIT, op[3], res)
    if kind == "upsert":
        state.upsert(op[1], op[2], op[3], plan.embed(op[2]))
        return None if res == op[1] else "upsert: returned ids differ"
    state.delete(op[1])
    return None


def mixed_rw(b) -> dict:
    from sifts_spark import Collection

    spark = b.spark
    rounds = _rounds(b.seconds, ROUND_SECONDS)
    standups = []
    for k in range(STANDUPS):
        t0 = time.perf_counter()
        plan = MixedPlan(b.seed, rounds)
        staged = os.path.join(b.work, f"docs-{k}.parquet")
        _stage_docs(plan.base, staged)
        standups.append(time.perf_counter() - t0)
    root = os.path.join(b.work, "store")
    col = Collection(
        root, "bench", embedding_function=plan.embed, spark=spark,
        auto_compact_batches=AUTO_COMPACT_BATCHES, vacuum_grace_seconds=0,
    )
    t0 = time.perf_counter()
    col.add_dataframe(spark.read.parquet(staged), embedding_col="embedding")
    build_s = time.perf_counter() - t0
    b.mark("built")
    state = oracle.State(plan.base.ids, plan.base.contents,
                         plan.base.metadatas, plan.base.embeddings)
    for op in plan.warmup:
        res, _ = b.timed(op[0], _mixed_call(col, plan, op))
        if res is not FAILED:
            b.check(_mixed_check(state, plan, op, res))
    b.mark("warm")
    setup_s = b.setup_s(standups)

    tr = b.tracer
    if tr is not None:
        tr.install_collection_layers()
    b.collect_garbage()
    loop_t0 = time.perf_counter()
    lat: dict[str, list[float]] = {}
    twins: dict[bool, list[float]] = {False: [], True: []}
    for i, op in enumerate(plan.ops):
        kind = "write" if op[0] in ("upsert", "delete") else op[0]
        if tr is None:
            runs = (False,)
        elif kind == "write":
            runs = (True,)
        else:
            # for the overhead a read also runs untraced on the same
            # state: after one discarded repeat (a repeat is cheaper than
            # a first call), then in alternating order
            runs = (None, False, True) if i % 2 == 0 else (None, True, False)
        for traced in runs:
            before = file_sizes(root) if traced and kind == "write" else None
            res, dt = b.timed(kind, _mixed_call(col, plan, op),
                              traced=bool(traced))
            if traced:
                _annotate(tr.ops[-1], root, before, op, res)
            if len(runs) == 3 and traced is not None:
                twins[traced].append(dt)
            lat.setdefault(kind, []).append(dt)
            if res is not FAILED:
                b.check(_mixed_check(state, plan, op, res))

    b.diag["loop_s"] = time.perf_counter() - loop_t0
    b.mark("loop")
    # the store replays the write sequence: the live ids agree
    live = {r["id"] for r in col.docs().select("id").collect()}
    b.check(None if live == set(state.docs) else
            f"final: {len(live)} live ids, oracle {len(state.docs)}")
    user = sum(
        len(c.encode()) + len(json.dumps(m).encode()) + 4 * len(e)
        for c, m, e in state.docs.values()
    )
    b.diag.update(rounds=rounds, ops=len(plan.ops), build_s=build_s,
                  p50_s={k: median(v) for k, v in lat.items()},
                  live_batches=len(col.store.read_manifest("bench")["batches"]))
    if tr is not None:
        return _layer_metrics(tr, _mean(twins[False]) / _mean(twins[True]))
    every = [x for xs in lat.values() for x in xs]
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(every) / sum(every), "1/s"),
        "bytes_per_user_byte": (dir_bytes(root) / user, "ratio"),
    }


def _annotate(o: dict, root, before, op, res) -> None:
    """Counts for the traced op just closed: bytes written and user
    bytes for writes, matches for FTS."""
    if op[0] == "fts" and res is not FAILED:
        o["total"] = res["total"]
    if before is not None:
        after = file_sizes(root)
        o["bytes_written"] = sum(
            s for p, s in after.items() if before.get(p) != s
        )
        if op[0] == "upsert":
            o["user_bytes"] = sum(
                len(c.encode()) + len(json.dumps(m).encode()) + 4 * corpus.DIM
                for c, m in zip(op[2], op[3])
            )
        else:
            o["user_bytes"] = sum(len(i.encode()) for i in op[1])


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(tr, overhead: float) -> dict:
    """Per-layer metrics from the traced ops; every name is present in
    every workload (0 where the workload never enters the layer).
    ``overhead`` is traced ÷ untraced calls per second over the same
    calls."""
    ops = tr.ops
    by = {k: [o for o in ops if o["kind"] == k] for k in ALL_OPS}
    out = {}
    reads = [o for o in ops if o["kind"] in ("fts", "scan", "vector")]
    writes = by["write"]
    out["session.start_s"] = (tr.session_s, "s")
    out["store.append_ms"] = (tr.layer_ms("store.append", ("write",)), "ms")
    out["store.postings_ms"] = (tr.layer_ms("store.postings", ("write",)), "ms")
    out["store.compact_ms"] = (tr.layer_ms("store.compact", ("write",)), "ms")
    out["store.read_ms"] = (tr.layer_ms("store.read", ("fts", "scan", "vector")), "ms")
    out["store.live_batches"] = (
        _mean([o["notes"]["live_batches"][-1] for o in reads
               if "live_batches" in o["notes"]]), "count")
    ub = sum(o.get("user_bytes", 0) for o in writes)
    out["store.write_amp"] = (
        sum(o.get("bytes_written", 0) for o in writes) / ub if ub else 0.0, "ratio")
    out["queryparser.parse_ms"] = (tr.layer_ms("queryparser.parse", ("fts",)), "ms")
    matched = sum(o.get("total", 0) for o in by["fts"])
    out["search.rows_per_result"] = (
        sum(o["postings_rows"] for o in by["fts"]) / matched if matched else 0.0,
        "ratio")
    out["vector.rows_scored"] = (_mean([o["arrow_rows"] for o in by["vector"]]), "count")
    for k in CURATE_LAYERS:
        out[k] = (tr.extra.get(k, 0.0), CURATE_LAYERS[k])
    for k in ALL_OPS:
        os_ = by[k]
        out[f"collection.self_ms.{k}"] = (
            _mean([tr.self_ms(o) for o in os_]) if k != "curate" else 0.0, "ms")
        out[f"collection.p50_ms.{k}"] = (
            median([o["wall_ms"] for o in os_]) if k != "curate" else 0.0, "ms")
        for m, unit in SPARK_METRICS.items():
            out[f"spark.{m}.{k}"] = (_mean([o[m] for o in os_]), unit)
        wall = sum(o["wall_ms"] for o in os_)
        out[f"spark.busy_share.{k}"] = (
            sum(o["run_ms"] for o in os_) / (wall * tr.cores) if wall else 0.0,
            "ratio")
        for m, unit in PY_LAYER.items():
            out[f"python.{m}.{k}"] = (_mean([o["py_" + m] for o in os_]), unit)
        out[f"cache.persisted_bytes.{k}"] = (
            _mean([o.get("cached_bytes", 0) for o in os_]), "B")
    out["trace.overhead"] = (overhead, "ratio")
    return out


ALL_OPS = ("fts", "vector", "scan", "write", "curate")
SPARK_METRICS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms",
    "input_bytes": "B", "shuffle_bytes": "B", "spill_bytes": "B",
}
PY_LAYER = {"start_ms": "ms", "run_ms": "ms", "bytes_out": "B", "bytes_in": "B"}
CURATE_LAYERS = {
    "dedup.minhash_s": "s",
    "dedup.clusters_s": "s",
    "dedup.verified_per_candidate": "ratio",
    "textanalysis.langid_s": "s",
    "textanalysis.quality_s": "s",
}


# ---------------------------------------------------------------------------
# curate


def curate(b) -> dict:
    from sifts_spark import release_all
    from sifts_spark.pipelines import curation

    spark = b.spark
    passes = _rounds(b.seconds, PASS_SECONDS)
    if b.tracer is not None:
        passes = 4 * ((passes + 3) // 4)  # untraced, traced, traced, untraced
    standups = []
    for k in range(STANDUPS):
        t0 = time.perf_counter()
        c = corpus.generate(b.seed, CURATE_DOCS)
        staged = os.path.join(b.work, f"raw-{k}.parquet")
        pq.write_table(pa.table({"doc_id": c.ids, "text": c.contents}), staged)
        standups.append(time.perf_counter() - t0)
    texts = dict(zip(c.ids, c.contents))
    b.mark("staged")

    # capture the pair list the pipeline computes, for the oracle
    seen_pairs = []
    real = curation.minhash_lsh_pairs

    def keep_pairs(*a, **kw):
        df = real(*a, **kw)
        seen_pairs.append(df)
        return df

    curation.minhash_lsh_pairs = keep_pairs

    def one_pass(out):
        cur, _ = curation.curate_corpus(
            spark.read.parquet(staged), allowed_langs=ALLOWED_LANGS,
            min_quality=MIN_QUALITY, jaccard_threshold=JACCARD,
        )
        cur.write.mode("overwrite").parquet(out)

    def check_pass(out, reference):
        """Oracle for one pass; the pairs are read from the pipeline's
        still-cached sketch, outside the timed span."""
        pairs = [(r["id_a"], r["id_b"], r["jaccard"])
                 for r in seen_pairs[-1].collect()]
        rows = pq.read_table(out).to_pylist()
        problem = (oracle.check_pairs(texts, pairs, JACCARD)
                   or oracle.check_curated(rows, texts, pairs, ALLOWED_LANGS,
                                           MIN_QUALITY))
        ids = sorted(r["id"] for r in rows)
        if problem is None and reference and ids != reference:
            problem = "curated ids differ between passes"
        b.check(problem)
        release_all()
        return pairs, ids, rows

    try:
        out0 = os.path.join(b.work, "curated-warmup")
        b.timed("curate", lambda: one_pass(out0))
        pairs, reference, rows = check_pass(out0, None)
        for k in range(1, WARM_PASSES):
            out = os.path.join(b.work, f"curated-warmup-{k}")
            b.timed("curate", lambda: one_pass(out))
            check_pass(out, reference)
            shutil.rmtree(out)
        b.diag["planted_recall"] = oracle.planted_recall(
            texts, c.dup_pairs, pairs, JACCARD)
        b.diag.update(curated=len(rows), pairs=len(pairs), passes=passes)
        out_bytes = dir_bytes(out0)
        b.mark("warm")
        setup_s = b.setup_s(standups)

        tr = b.tracer
        times: list[float] = []
        by_traced: dict[bool, list[float]] = {False: [], True: []}
        for p in range(passes):
            traced = tr is not None and p % 4 in (1, 2)
            out = os.path.join(b.work, f"curated-{p}")
            b.collect_garbage()
            res, dt = b.timed("curate", lambda: one_pass(out), traced=traced)
            if traced:
                tr.ops[-1]["cached_bytes"] = tr.cached_bytes()
            times.append(dt)
            by_traced[traced].append(dt)
            if res is not FAILED:
                check_pass(out, reference)
                shutil.rmtree(out)
        b.diag["pass_s"] = times
        b.mark("loop")
        if tr is not None:
            _curate_layers(b, staged, spark)
            return _layer_metrics(
                tr, _mean(by_traced[False]) / _mean(by_traced[True]))
    finally:
        curation.minhash_lsh_pairs = real
    in_bytes = sum(len(t.encode()) for t in c.contents)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(times) / sum(times), "1/s"),
        "bytes_per_user_byte": (out_bytes / in_bytes, "ratio"),
    }


def _curate_layers(b, staged, spark) -> None:
    """Time each curation layer's public function on its own over the
    same input (traced runs only)."""
    from sifts_spark import release_all
    from sifts_spark.operators import dedup, textanalysis

    base = spark.read.parquet(staged).withColumnRenamed("doc_id", "id")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def clock(fn):
        t0 = time.perf_counter()
        out = fn()
        return time.perf_counter() - t0, out

    ex = b.tracer.extra
    ex["textanalysis.langid_s"], _ = clock(
        lambda: noop(textanalysis.language_id(base, id_col="id", text_col="text")))
    ex["textanalysis.quality_s"], _ = clock(
        lambda: noop(textanalysis.quality_score(base, id_col="id", text_col="text")))
    ex["dedup.minhash_s"], pairs = clock(
        lambda: dedup.minhash_lsh_pairs(base, id_col="id", text_col="text",
                                        jaccard_threshold=JACCARD).collect())
    release_all()
    candidates = dedup.minhash_lsh_pairs(
        base, id_col="id", text_col="text", jaccard_threshold=0.0).count()
    release_all()
    ex["dedup.verified_per_candidate"] = len(pairs) / candidates if candidates else 0.0
    pairs_df = spark.createDataFrame(
        [(r["id_a"], r["id_b"], r["jaccard"]) for r in pairs],
        "id_a string, id_b string, jaccard double")
    ex["dedup.clusters_s"], _ = clock(
        lambda: noop(dedup.duplicate_clusters(base, pairs_df, id_col="id")))
    release_all()


WORKLOADS = {"mixed_rw": mixed_rw, "curate": curate}
