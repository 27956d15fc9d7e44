"""The benchmark's workloads.

``bulk_ingest``: deluge's own job, run the way ``cli ingest`` runs it —
seeded JSONL files (about 0.5% malformed lines) → ``read_json_lines`` →
``check_corrupt_ratio`` → ``assign_doc_ids`` → ``build_index`` into an
empty directory, repeated for the run's seconds. The corpus is large
enough that the per-document work, the tokenize-and-encode stage above
all, outweighs the fixed cost of each build's jobs, files and manifests.
Search does nothing in the timed pass.

``append_search``: writes beside reads. A small base index is ingested the
same way during set-up, with the default two segment batches, and
auto-compaction keeps at most that many, so every ``append_docs`` call also
runs ``merge_small_batches``. Each round appends a seeded batch whose docs
all carry a term unique to the round, refreshes the ``Searcher`` (which
clears its term LRU) and sends a few ``search_local`` queries with pairwise
distinct terms, so every query misses the LRU and pays the segment-fetch
job.

Every run: set-up is repeated and its median reported, then one pass is
timed — untraced, or with ``trace`` with spans and Spark accounting on,
followed by kernel probes of the executor-side layers (and, on
``bulk_ingest``, one untimed append-and-search round over the small warm-up
index, so every layer is measured on both workloads). Outputs are checked
after the timed region.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import deluge_spark.index.search as search_mod
import deluge_spark.plans.admin as admin_mod
from deluge_spark.corpus import HOT
from deluge_spark.functions.tokenizer import batch_term_counts, tokenize_py
from deluge_spark.index.build import (
    BuildConfig,
    build_index,
    read_global_stats,
)
from deluge_spark.index.codec import decode_list, encode_group
from deluge_spark.index.search import Searcher
from deluge_spark.operators.doc_ids import NATURAL_KEY, assign_doc_ids
from deluge_spark.operators.threshold import (
    DEFAULT_THRESHOLD,
    check_corrupt_ratio,
)
from deluge_spark.sources.readers import read_json_lines
from perfbench import inputs
from perfbench.harness import (
    Env,
    NullAccounting,
    SparkAccounting,
    dir_bytes,
    mean,
    median,
    tail,
)
from perfbench.trace import NullTracer, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_oracle():
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle", os.path.join(ROOT, "tests", "oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.OracleIndex


OracleIndex = _load_oracle()

SETUP_REPEATS = 3
ROUND_DP = 9

# bulk_ingest. An ingest costs about 6 s per build (jobs, files, manifests)
# plus about 0.5 ms per document on 4 cores: at 12000 docs the per-document
# work is most of it, and tokenize_encode most of build_index.
BULK_DOCS = 12000
WARMUP_DOCS = 200

# append_search
BASE_DOCS = 400
BASE_CONFIG = dict(tokenize_groups=1)
# auto-compaction threshold: the base's own segment-batch count, so
# merge_small_batches fires on every append. The default (16) would need a
# 16-batch base build or 15 rounds per run, which the time budget of the
# whole benchmark does not allow on a 4-core machine.
AUTO_COMPACT_BATCHES = BuildConfig().shard_batches
APPEND_DOCS = 20
QUERIES_PER_ROUND = 16     # the round's own term + 15 Zipf-drawn queries
WAND_QUERY = 1             # this query of each round pins algo="wand"
HOT_TOKENS = set(tokenize_py(" ".join(HOT), "code"))
TERM_CACHE = 64
MIN_MERGES = 2
MAX_ROUNDS = 10

# kernel probes
PROBE_DOCS = 400
PROBE_SECONDS = 0.3


class Run:
    """Counters and samples shared by a workload's passes."""

    def __init__(self, env: Env, seed: int, seconds: float) -> None:
        self.t0 = time.perf_counter()
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.session_s = 0.0
        self.generate_s: list[float] = []
        self.open_s: list[float] = []

    def log(self, what: str) -> None:
        """Progress on standard error, seconds since the run started."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)
        return ok

    def start_session(self) -> None:
        t = time.perf_counter()
        self.env.start_spark()
        self.session_s = time.perf_counter() - t

    def generate(self, seed: int, n_docs: int):
        t = time.perf_counter()
        pdf = inputs.corpus(seed, n_docs)
        self.generate_s.append(time.perf_counter() - t)
        return pdf


def _content_bytes(pdf) -> int:
    return int(sum(len(c.encode()) for c in pdf["content"]))


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()


def _rounded(hits) -> list[tuple[int, float]]:
    return [(int(d), round(float(s), ROUND_DP)) for d, s in hits]


def ingest(spark, src_dir: str, out: str, tr, acct,
           config: BuildConfig | None = None) -> dict:
    """One ingest, exactly as ``cli ingest --format jsonl --schema``.
    ``gate_s`` is the time until the error-budget gate has its verdict."""
    t0 = time.perf_counter()
    with tr.span("sources.read_json_lines"):
        df = read_json_lines(spark, src_dir, schema=inputs.JSONL_SCHEMA)
    with tr.span("operators.threshold.check_corrupt_ratio"):
        gate = check_corrupt_ratio(df, F.col("_corrupt").isNotNull(),
                                   DEFAULT_THRESHOLD, sample_col="_corrupt")
    gate_s = time.perf_counter() - t0
    df = (df.filter(F.col("_corrupt").isNull()).drop("_corrupt")
          .filter(F.col("content").isNotNull()))
    with tr.span("operators.doc_ids.assign_doc_ids"):
        df = assign_doc_ids(df, key_cols=NATURAL_KEY)
    # accounting outside the span: its status-tracker calls stay out of the
    # span's time
    with acct.op() as counts, tr.span("index.build.build_index"):
        m = build_index(spark, df, out, config or BuildConfig())
    return {"gate": gate, "gate_s": gate_s, "build": m, "spark": dict(counts)}


def _check_gate(r: Run, gate: dict, src: inputs.JsonlSource) -> None:
    r.check(gate["errors"] == src.malformed and gate["total"] == src.lines,
            f"gate counted {gate['errors']}/{gate['total']}, planted "
            f"{src.malformed}/{src.lines}")


def _open(spark, index_dir: str) -> Searcher:
    """The serving configuration, with a term LRU smaller than a run's
    distinct terms."""
    return Searcher(spark, index_dir, cache_stats=True, cache_segments=True,
                    term_cache_size=TERM_CACHE)


# ---------------------------------------------------------------------------
class BulkIngest:
    name = "bulk_ingest"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.src = None

    def setup(self, tr, acct) -> None:
        r = self.run
        cseed = inputs.sub_seed(r.seed, "bulk_corpus")
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            pdf = r.generate(cseed, BULK_DOCS)
            src = inputs.write_jsonl(pdf, r.env.path(f"src{i}"), cseed)
            r.setup_s.append(time.perf_counter() - t)
        self.src = src
        self.expect_sha = {
            (row.repo, row.path, row.commit): _sha(row.content)
            for row in pdf.itertuples()}
        # a token of a prefix is a token of the whole text, so the first
        # characters decide almost every doc
        self.expect_indexed = sum(1 for c in pdf["content"]
                                  if tokenize_py(c[:64]) or tokenize_py(c))
        self.content_bytes = _content_bytes(pdf)
        r.log("set-up done; warm-up ingest")
        # warm the JVM and the Python workers on the same path, untimed and
        # untraced; the traced run later appends to and searches this index
        wseed = inputs.sub_seed(r.seed, "bulk_warmup")
        self.warm_pdf = inputs.corpus(wseed, WARMUP_DOCS)
        warm = inputs.write_jsonl(self.warm_pdf, r.env.path("src_warm"),
                                  wseed)
        self.warm_dir = r.env.path("idx_warm")
        ingest(r.env.spark, warm.dir, self.warm_dir, NullTracer(),
               NullAccounting())
        r.log("warm-up done")

    def timed(self, tr, acct) -> dict:
        r = self.run
        ops = []
        t0 = time.perf_counter()
        t_end = t0 + r.seconds
        while not ops or time.perf_counter() < t_end:
            out = r.env.path(f"idx_{len(ops)}")
            with tr.span("bulk_ingest.ingest", request=len(ops)):
                t = time.perf_counter()
                try:
                    res = ingest(r.env.spark, self.src.dir, out, tr, acct)
                except Exception:
                    traceback.print_exc()
                    res = None
                dt = time.perf_counter() - t
            ops.append({"dt": dt, "res": res, "out": out})
            r.log(f"ingest {len(ops)}: {dt:.2f}s")
        wall = time.perf_counter() - t0
        for op in ops:
            self._verify(op)
        return {"ops": ops, "wall_s": wall}

    def _verify(self, op: dict) -> None:
        """Doc count, per-row content_sha256 against the source, and the
        gate's error count against the planted malformed lines."""
        r = self.run
        res = op["res"]
        if not r.check(res is not None, "ingest raised"):
            return
        _check_gate(r, res["gate"], self.src)
        m = res["build"]
        docs = (r.env.spark.read.parquet(os.path.join(op["out"], "docs"))
                .select("repo", "path", "commit", "content_sha256")
                .toPandas())
        got = {(d.repo, d.path, d.commit): d.content_sha256
               for d in docs.itertuples()}
        r.check(len(docs) == len(self.expect_sha) and got == self.expect_sha,
                f"docs table: {len(docs)} rows, {len(self.expect_sha)} "
                "expected, or content_sha256 mismatch")
        r.check(m["n_docs"] == self.expect_indexed,
                f"n_docs {m['n_docs']} != {self.expect_indexed}")
        op["index_bytes"] = dir_bytes(op["out"])
        op["segment_bytes"] = dir_bytes(os.path.join(op["out"], "segments"))
        op["total_postings"] = read_global_stats(op["out"])["total_postings"]
        shutil.rmtree(op["out"])

    def traced_extra(self, tr, acct) -> dict:
        """One append-and-search round over the warm-up index, so that the
        search, scoring and admin layers are measured on this workload too.
        Untimed; its outputs are checked like append_search's."""
        r = self.run
        t = time.perf_counter()
        searcher = _open(r.env.spark, self.warm_dir)
        r.open_s.append(time.perf_counter() - t)
        p = append_rounds(r, self.warm_dir, searcher, len(self.warm_pdf),
                          "bulk_extra", tr, acct, seconds=0.0, min_merges=1)
        verify_rounds(r, p, self.warm_pdf)
        return p

    def e2e(self, p: dict) -> tuple[dict, list]:
        ok = [o for o in p["ops"] if o["res"] is not None]
        rates = [self.src.docs.shape[0] / o["dt"] for o in ok]
        ingest_s = [o["dt"] for o in ok]
        gate_ms = [o["res"]["gate_s"] * 1000 for o in ok]
        ratio = [o["index_bytes"] / self.content_bytes for o in ok
                 if "index_bytes" in o]
        lines = [("ingest_docs_per_s", median(rates), "1/s", len(rates),
                  "median over ingests"),
                 ("ingest_p50_s", median(ingest_s), "s", len(ingest_s),
                  _tail_note(ingest_s, "s")),
                 ("gate_verdict_p50_ms", median(gate_ms), "ms",
                  len(gate_ms), "read + check_corrupt_ratio"),
                 ("index_bytes_per_source_byte", median(ratio), "ratio",
                  len(ratio), "")]
        return ({"docs_per_s": median(rates), "latency_p50_ms": median(gate_ms),
                 "index_bytes_per_source_byte": median(ratio)}, lines)

    def layers(self, p: dict, extra: dict, tr: Tracer) -> dict:
        ok = [o for o in p["ops"] if o["res"] is not None]
        out = _build_layers(
            [{"metrics": o["res"]["build"], "spark": o["res"]["spark"],
              "total_postings": o["total_postings"]} for o in ok])
        out["index.codec.bytes_per_posting"] = _med(
            [o["segment_bytes"] / max(1, o["total_postings"]) for o in ok])
        out.update(_ingest_layers(tr, [o["res"]["gate"] for o in ok]))
        out.update(_append_layers(tr, extra))
        return out

    def probe_docs(self):
        return self.src.docs


# ---------------------------------------------------------------------------
class AppendSearch:
    name = "append_search"

    def __init__(self, run: Run) -> None:
        self.run = run

    def setup(self, tr, acct) -> None:
        r = self.run
        cseed = inputs.sub_seed(r.seed, "append_base")
        self.base_pdf = r.generate(cseed, BASE_DOCS)
        src = inputs.write_jsonl(self.base_pdf, r.env.path("src_base"), cseed)
        self.base = r.env.path("base")
        res = ingest(r.env.spark, src.dir, self.base, tr, acct,
                     BuildConfig(**BASE_CONFIG))
        _check_gate(r, res["gate"], src)
        self.base_build = {
            "gate": res["gate"], "metrics": res["build"],
            "spark": res["spark"],
            "total_postings": read_global_stats(self.base)["total_postings"]}
        r.log(f"base index built: {res['build']['wall_s']:.2f}s")
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            r.generate(cseed, BASE_DOCS)
            r.env.spark.catalog.clearCache()
            t_open = time.perf_counter()
            self.searcher = _open(r.env.spark, self.base)
            r.open_s.append(time.perf_counter() - t_open)
            r.setup_s.append(time.perf_counter() - t)

    def timed(self, tr, acct) -> dict:
        r = self.run
        p = append_rounds(r, self.base, self.searcher, len(self.base_pdf),
                          "append", tr, acct, r.seconds, MIN_MERGES)
        verify_rounds(r, p, self.base_pdf)
        return p

    def traced_extra(self, tr, acct) -> None:
        return None

    def e2e(self, p: dict) -> tuple[dict, list]:
        rounds = [x for x in p["rounds"] if x["append"] is not None]
        rates = [APPEND_DOCS / x["append_s"] for x in rounds]
        lat = [t * 1000 for x in p["rounds"] for t in x["lat"]]
        ratio = p["index_bytes"] / p["content_bytes"]
        append_s = [x["append_s"] for x in rounds]
        lines = [("append_docs_per_s", median(rates), "1/s", len(rates),
                  "median over rounds"),
                 ("append_p50_s", median(append_s), "s", len(append_s),
                  _tail_note(append_s, "s")),
                 ("query_p50_ms", median(lat), "ms", len(lat),
                  _tail_note(lat, "ms")),
                 ("merge_small_batches_calls", p["merges"], "count",
                  len(p["rounds"]), "rounds"),
                 ("index_bytes_per_source_byte", ratio, "ratio", 1, "")]
        return ({"docs_per_s": median(rates), "latency_p50_ms": median(lat),
                 "index_bytes_per_source_byte": ratio}, lines)

    def layers(self, p: dict, extra: None, tr: Tracer) -> dict:
        out = _build_layers([self.base_build])
        out["index.codec.bytes_per_posting"] = (
            p["segment_bytes"] / max(1, p["total_postings"]))
        out.update(_ingest_layers(tr, [self.base_build["gate"]]))
        out.update(_append_layers(tr, p))
        return out

    def probe_docs(self):
        return self.base_pdf


# ---------------------------------------------------------------------------
def _round_batch(r: Run, tag: str, rnd: int):
    pdf = inputs.corpus(inputs.sub_seed(r.seed, f"{tag}_round{rnd}"),
                        APPEND_DOCS)
    pdf["path"] = pdf["path"] + f"_r{rnd}"
    pdf["content"] = pdf["content"] + f"\n{_marker(rnd)}\n"
    return pdf


def _round_queries(r: Run, tag: str, rnd: int,
                   n_docs: int) -> list[inputs.Query]:
    """The round's own term, then Zipf-drawn queries sharing no term with
    each other; the one pinned to WAND holds a hot word, so WAND always
    runs."""
    gen = inputs.QueryGen(inputs.sub_seed(r.seed, f"{tag}_q{rnd}"), n_docs)
    used = {_marker(rnd)}
    qs = [inputs.Query(_marker(rnd), APPEND_DOCS + 10)]
    while len(qs) < QUERIES_PER_ROUND:
        q = gen.query(used=used)
        if len(qs) == WAND_QUERY:
            if not HOT_TOKENS & set(tokenize_py(q.text, "code")):
                continue
            q = inputs.Query(q.text, q.k, "wand")
        qs.append(q)
    return qs


def append_rounds(r: Run, index: str, searcher: Searcher, n_docs: int,
                  tag: str, tr, acct, seconds: float,
                  min_merges: int) -> dict:
    """Rounds of append_docs → refresh → search_local for ``seconds`` and
    until ``merge_small_batches`` has fired ``min_merges`` times."""
    spark = r.env.spark
    rounds = []
    merges = 0
    t0 = time.perf_counter()
    t_end = t0 + seconds
    while len(rounds) < MAX_ROUNDS and (
            merges < min_merges or time.perf_counter() < t_end):
        rnd = len(rounds)
        pdf = _round_batch(r, tag, rnd)
        batch = spark.createDataFrame(pdf)
        queries = _round_queries(r, tag, rnd, n_docs)
        rec = {"rnd": rnd, "pdf": pdf, "queries": queries, "hits": [],
               "lat": [], "jobs": []}
        wall0 = time.time()
        with acct.op() as counts, \
                tr.span("plans.admin.append_docs", request=rnd):
            t = time.perf_counter()
            try:
                res = admin_mod.append_docs(
                    spark, index, batch,
                    auto_compact_batches=AUTO_COMPACT_BATCHES)
            except Exception:
                traceback.print_exc()
                res = None
            rec["append_s"] = time.perf_counter() - t
        rec["append"] = res
        rec["append_spark"] = dict(counts)
        if res is not None and res.get("auto_compacted"):
            merges += 1
        with tr.span("index.search.refresh", request=rnd):
            t = time.perf_counter()
            searcher.refresh()
            rec["refresh_s"] = time.perf_counter() - t
        for qi, q in enumerate(queries):
            with acct.op() as counts, \
                    tr.span("index.search.search_local",
                            request=rnd * 100 + qi):
                t = time.perf_counter()
                try:
                    hits = searcher.search_local(q.text, q.k,
                                                 round_dp=ROUND_DP,
                                                 algo=q.algo)
                except Exception:
                    traceback.print_exc()
                    hits = None
                rec["lat"].append(time.perf_counter() - t)
            rec["hits"].append(hits)
            rec["jobs"].append(counts.get("jobs", 0))
        if isinstance(tr, Tracer):
            rec["matched"] = _matched_postings(r, index, queries)
        rec["bytes_written"] = dir_bytes(index, since=wall0)
        rec["segment_batches"] = len(
            read_global_stats(index)["segment_batches"])
        rounds.append(rec)
        r.log(f"{tag} round {rnd}: append {rec['append_s']:.2f}s, "
              f"refresh {rec['refresh_s']:.2f}s, "
              f"queries {sum(rec['lat']):.2f}s")
    return {"rounds": rounds, "merges": merges, "index": index,
            "wall_s": time.perf_counter() - t0}


def _matched_postings(r: Run, index: str, queries) -> list[int]:
    """Σ df over each query's terms, from the index's own stats/terms
    table as of this round."""
    toks = [list(dict.fromkeys(tokenize_py(q.text, "code")))
            for q in queries]
    df = {row["term"]: int(row["df"]) for row in
          r.env.spark.read.parquet(os.path.join(index, "stats", "terms"))
          .filter(F.col("term").isin(sorted({t for ts in toks
                                              for t in ts})))
          .collect()}
    return [sum(df.get(t, 0) for t in ts) for ts in toks]


def verify_rounds(r: Run, p: dict, base_pdf) -> None:
    """Every query against the oracle over the docs visible in its round;
    each round's own term returns exactly that round's docs."""
    docs = (r.env.spark.read.parquet(os.path.join(p["index"], "docs"))
            .select("doc_id", "path", "content").toPandas())
    by_path = {d.path: (int(d.doc_id), d.content) for d in docs.itertuples()}
    visible = {by_path[pth][0]: by_path[pth][1]
               for pth in base_pdf["path"] if pth in by_path}
    r.check(len(visible) == len(base_pdf), "base docs missing")
    for rec in p["rounds"]:
        if not r.check(rec["append"] is not None,
                       f"append round {rec['rnd']} raised"):
            continue
        own = set()
        for pth in rec["pdf"]["path"]:
            if pth in by_path:
                doc_id, content = by_path[pth]
                visible[doc_id] = content
                own.add(doc_id)
        r.check(len(own) == len(rec["pdf"]),
                f"round {rec['rnd']}: {len(own)} of {len(rec['pdf'])} "
                "appended docs in the docs table")
        oracle = OracleIndex(visible, "code")
        for q, hits in zip(rec["queries"], rec["hits"]):
            want = oracle.top_k(tokenize_py(q.text, "code"), q.k,
                                round_dp=ROUND_DP)
            ok = hits is not None and _rounded(hits) == want
            if ok and q.text == _marker(rec["rnd"]):
                ok = {d for d, _ in hits} == own
            r.check(ok, f"round {rec['rnd']} query {q.text!r} k={q.k}")
    p["index_bytes"] = dir_bytes(p["index"])
    p["segment_bytes"] = dir_bytes(os.path.join(p["index"], "segments"))
    p["total_postings"] = read_global_stats(p["index"])["total_postings"]
    p["content_bytes"] = _content_bytes(base_pdf) + sum(
        _content_bytes(rec["pdf"]) for rec in p["rounds"])


def _med(xs):
    """Median for a per-layer metric; None when the layer was not called."""
    return median(xs) if len(xs) else None


def _marker(rnd: int) -> str:
    return f"appendround{rnd}marker"


def _tail_note(xs, unit: str) -> str:
    t = tail(xs)
    return f"p{t[0]} {t[1]:.4g} {unit}" if t else "too few samples for a tail"


# ---------------------------------------------------------------------------
def _build_layers(builds: list[dict]) -> dict:
    """index.build.* of the run's build_index calls: the timed ingests of
    bulk_ingest, the set-up base build of append_search."""
    out = {
        "index.build.wall_s": _med([b["metrics"]["wall_s"] for b in builds]),
        "index.build.spark_jobs": _med([b["spark"]["jobs"]
                                          for b in builds]),
        "index.build.spark_tasks": _med([b["spark"]["tasks"]
                                           for b in builds]),
        "index.build.failed_tasks": sum(b["spark"]["failed_tasks"]
                                        for b in builds),
        "index.build.total_postings": _med([b["total_postings"]
                                              for b in builds]),
    }
    for stage in ("docs_table", "tokenize_encode", "corpus_stats",
                  "segments_merge", "term_stats"):
        out[f"index.build.stage.{stage}_s"] = _med(
            [b["metrics"]["stages"].get(stage, 0.0) for b in builds])
    return out


def _ingest_layers(tr: Tracer, gates: list[dict]) -> dict:
    """sources.* and operators.* of the traced ingests."""
    def span_s(name):
        return [tr.duration(s) for s in tr.named(name)]

    return {
        "sources.read_ms": _med([t * 1000 for t in
                                 span_s("sources.read_json_lines")]),
        "operators.threshold.check_s":
            _med(span_s("operators.threshold.check_corrupt_ratio")),
        "operators.threshold.errors": _med([g["errors"] for g in gates]),
        "operators.doc_ids.assign_s":
            _med(span_s("operators.doc_ids.assign_doc_ids")),
    }


def _append_layers(tr: Tracer, p: dict) -> dict:
    """index.search.*, index.wand.* and plans.admin.* of the traced
    append-and-search rounds ``p``."""
    out = _search_layers(tr, p)
    rounds = p["rounds"]
    appended = sum(_content_bytes(x["pdf"]) for x in rounds)
    out.update({
        "plans.admin.append_s": _med(
            [tr.duration(s) for s in tr.named("plans.admin.append_docs")]),
        "plans.admin.merge_small_batches_s": _med(
            [tr.duration(s) for s in
             tr.named("plans.admin.merge_small_batches")]),
        "plans.admin.merge_calls":
            len(tr.named("plans.admin.merge_small_batches")),
        "plans.admin.append_spark_jobs":
            mean([x["append_spark"].get("jobs", 0) for x in rounds]),
        "plans.admin.bytes_written_per_source_byte":
            sum(x["bytes_written"] for x in rounds) / max(1, appended),
        "plans.admin.segment_batches":
            mean([x["segment_batches"] for x in rounds]),
        "index.search.refresh_ms": _med(
            [tr.duration(s) * 1000 for s in
             tr.named("index.search.refresh")]),
    })
    return out


def _search_layers(tr: Tracer, p: dict) -> dict:
    """Per-query layers of the traced search_local calls."""
    kids = tr.children()
    spans = tr.named("index.search.search_local")
    queries = [q for x in p["rounds"] for q in x["queries"]]
    jobs = [j for x in p["rounds"] for j in x["jobs"]]
    fetch, tok, taat, wand = [], [], [], []
    taat_picks = auto_scored = 0
    for s, q in zip(spans, queries):
        ch = kids.get(s["id"], [])
        fetch.append(tr.self_time(s, kids) * 1000)
        tok += [tr.duration(c) * 1e6 for c in ch
                if c["name"] == "functions.tokenizer.tokenize_py"]
        t_taat = [tr.duration(c) for c in ch
                  if c["name"] == "index.wand.taat_top_k"]
        t_wand = [tr.duration(c) for c in ch
                  if c["name"] == "index.wand.wand_top_k"]
        if t_taat:
            taat.append(sum(t_taat) * 1000)
        if t_wand:
            wand.append(sum(t_wand) * 1000)
        if q.algo == "auto" and (t_taat or t_wand):
            auto_scored += 1
            taat_picks += bool(t_taat)
    matched = [m for x in p["rounds"] for m in x["matched"]]
    hits = sum(len(h or []) for x in p["rounds"] for h in x["hits"])
    return {
        "index.search.fetch_ms": _med(fetch),
        "index.search.spark_jobs_per_query": mean(jobs),
        "index.search.matched_postings_per_query": mean(matched),
        "functions.tokenizer.query_us": _med(tok),
        "index.wand.taat_ms": _med(taat),
        "index.wand.wand_ms": _med(wand),
        "index.wand.taat_pick_ratio": taat_picks / max(1, auto_scored),
        "index.wand.hits_per_matched_posting": hits / max(1, sum(matched)),
    }


# ---------------------------------------------------------------------------
def _repeat(fn, min_s: float = PROBE_SECONDS) -> float:
    """Calls per second of ``fn`` over at least ``min_s`` seconds."""
    n, t0 = 0, time.perf_counter()
    while True:
        fn()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


def kernel_probes(run: Run, pdf) -> dict:
    """Executor-side kernels called directly on a seeded driver-side sample
    of the workload's documents: patches on the driver never reach the
    Python workers that run them inside Spark jobs."""
    rng = np.random.default_rng(inputs.sub_seed(run.seed, "probe"))
    idx = np.sort(rng.choice(len(pdf), min(PROBE_DOCS, len(pdf)),
                             replace=False))
    batch = pa.RecordBatch.from_pydict({
        "doc_id": pa.array(idx, pa.int64()),
        "content": pa.array(pdf["content"].iloc[idx].tolist(), pa.string())})
    doc, terms, tf, dl = batch_term_counts(batch, "doc_id", "content", "code")
    tokens_per_s = int(tf.sum()) * _repeat(
        lambda: batch_term_counts(batch, "doc_id", "content", "code"))

    # postings in the build's encoder order: (term, doc)
    tidx = pc.dictionary_encode(terms).indices.to_numpy(
        zero_copy_only=False).astype(np.int64)
    order = np.lexsort((doc, tidx))
    key, doc, tf, dl = tidx[order], doc[order], tf[order], dl[order]
    n = len(doc)
    encode_per_s = n * _repeat(lambda: encode_group(key, doc, tf, dl))

    g = encode_group(key, doc, tf, dl)
    tbo = g["term_block_offsets"]
    lists = [(g["data"][g["term_byte_start"][i]:g["term_byte_end"][i]],
              g["block_off"][tbo[i]:tbo[i + 1]],
              g["block_count"][tbo[i]:tbo[i + 1]],
              g["block_first"][tbo[i]:tbo[i + 1]],
              g["block_last"][tbo[i]:tbo[i + 1]])
             for i in range(g["n_terms"])]

    def _decode_all():
        return [decode_list(*x) for x in lists]

    dec = _decode_all()
    run.check(all(np.array_equal(np.concatenate([x[i] for x in dec]), want)
                  for i, want in enumerate((doc, tf, dl))),
              "codec probe: decode_list(encode_group(x)) != x")
    decode_per_s = n * _repeat(_decode_all)
    return {"functions.tokenizer.tokens_per_s": tokens_per_s,
            "index.codec.encode_postings_per_s": encode_per_s,
            "index.codec.decode_postings_per_s": decode_per_s}


WORKLOADS = {"bulk_ingest": BulkIngest, "append_search": AppendSearch}

# module globals rebound in the traced pass: calls the program makes
# internally on the driver
PATCHES = [(search_mod, "tokenize_py", "functions.tokenizer.tokenize_py"),
           (search_mod, "taat_top_k", "index.wand.taat_top_k"),
           (search_mod, "wand_top_k", "index.wand.wand_top_k"),
           (admin_mod, "merge_small_batches",
            "plans.admin.merge_small_batches")]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    """One benchmark run → the result object (the last line printed)."""
    spec = _spec()
    env = Env(ROOT)
    try:
        r = Run(env, seed, seconds)
        wl = WORKLOADS[name](r)
        r.start_session()
        r.log("session started")
        tr, acct = NullTracer(), NullAccounting()
        if trace:
            tr, acct = Tracer(), SparkAccounting(env.spark.sparkContext)
        wl.setup(tr, acct)
        r.log("set-up done")
        if trace:
            for mod, attr, span in PATCHES:
                tr.patch(mod, attr, span)
        try:
            booked0 = tr.overhead_s + acct.overhead_s
            p = wl.timed(tr, acct)
            booked = tr.overhead_s + acct.overhead_s - booked0
            r.log("pass checked")
            if trace:
                extra = wl.traced_extra(tr, acct)
        finally:
            if trace:
                tr.unpatch()
        e2e, lines = wl.e2e(p)
        e2e["setup_s"] = r.session_s + median(r.setup_s)
        if trace:
            layers = wl.layers(p, extra, tr)
            layers.update(kernel_probes(r, wl.probe_docs()))
            layers.update({
                "session.start_s": r.session_s,
                "corpus.generate_s": _med(r.generate_s),
                "index.search.open_s": _med(r.open_s),
                "trace.spans": len(tr.spans),
                # the end-to-end figures of this traced pass: their distance
                # to the untraced runs' figures is the tracing overhead
                "trace.docs_per_s": e2e["docs_per_s"],
                "trace.latency_p50_ms": e2e["latency_p50_ms"],
                "trace.bookkeeping_pct": 100 * booked / p["wall_s"],
            })
            for m in spec["per_layer"]:
                r.check(layers.get(m["name"]) is not None,
                        f"layer metric {m['name']} not measured")
            os.makedirs(env.base, exist_ok=True)
            span_file = os.path.join(env.base, f"spans-{name}-seed{seed}.jsonl")
            tr.write(span_file)
        env.rss.sample()
        e2e["peak_rss_mb"] = env.rss.peak / 2**20
    finally:
        env.close()
    r.log("stopped")

    _print_report(name, r, e2e, lines, layers if trace else None, spec)
    if trace:
        print(f"  spans written to {os.path.relpath(span_file, ROOT)}")
        # a metric left unmeasured failed its check above
        metrics = {m["name"]: {"value": float(layers.get(m["name"]) or 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}


def _print_report(name: str, r: Run, e2e: dict, lines: list,
                  layers: dict | None, spec: dict) -> None:
    print(f"perfbench {name} seed={r.seed} seconds={r.seconds:g} "
          f"cores={r.env.cores} "
          f"{'traced' if layers is not None else 'untraced'} pass")
    rows = [("setup_s", e2e["setup_s"], "s", len(r.setup_s),
             f"session start {r.session_s:.3f} s + median of "
             f"{len(r.setup_s)} set-ups")]
    rows += lines
    rows += [("error_rate", r.failed / max(1, r.attempted), "ratio",
              r.attempted, f"{r.failed} failed of {r.attempted} checked"),
             ("peak_rss_mb", e2e["peak_rss_mb"], "MB", 1,
              "this process + JVM + Python workers")]
    for n, v, unit, count, note in rows:
        print(f"  {n:32s} {v:14.4f} {unit:6s} n={count:<5d} {note}")
    if layers is not None:
        print("  per-layer (traced pass):")
        for m in spec["per_layer"]:
            v = layers.get(m["name"])
            shown = "not exercised" if v is None else f"{v:14.4f}"
            print(f"    {m['name']:44s} {shown} {m['unit']}")
