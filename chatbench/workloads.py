"""The three workloads. Each has `prepare(rng, work)`, which writes its
inputs (not timed), and `run(spark, data, seconds, tracer)`, which drives
the program in a closed loop for `seconds`, then checks every result
against the oracle, outside the measured window, and returns a `Result`.

With a tracer (the traced run), each operation is preceded by a forced
evaluation of its layers one at a time, so that each layer's self time
is the difference between successive forced runs; the operation itself
then runs exactly as in the untraced run, inside an "op" span.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import multiprocessing
import os
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from chatbench import gen, harness, oracle
from chatbench.trace import run_noop
from poc_spark import serve
from poc_spark.functions.chat_parse import parse_chat_lines
from poc_spark.operators import etl, graph, network, text
from poc_spark.operators.dedup import minhash_lsh_pairs
from poc_spark.sources import lake
from poc_spark.sources.chat import read_chat_lines
from poc_spark.streaming.ingest import (
    append_batch_exactly_once,
    parse_chat_stream,
    stream_chat_lines,
)


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)  # seconds per operation
    labels: list[str] = field(default_factory=list)       # what each operation was
    wall_s: float = 0.0                                    # whole timed loop
    peak_rss_mb: float = 0.0                               # over the timed loop
    unit_s: float = 0.0       # wall time of the workload's first fixed unit of work
    unit_cpu_s: float = 0.0   # process-tree CPU-seconds of that unit
    unit_rows: int = 0        # input lines that unit processed
    percentile_ops: int | None = None  # latency percentiles over this many first ops
    rows: int = 0                                          # input lines processed
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)  # traced run only

    def start(self) -> None:
        self._rss = harness.RssSampler()
        self._rss.start()
        self._t0, self._cpu0 = time.perf_counter(), harness.tree_cpu_s()

    def stop(self) -> None:
        """Close the timed loop: the checks that follow are not measured."""
        self.wall_s = time.perf_counter() - self._t0
        self.peak_rss_mb = self._rss.stop()

    def unit_done(self) -> None:
        """Close the fixed unit (first call only)."""
        if not self.unit_s:
            self.unit_s = time.perf_counter() - self._t0
            self.unit_cpu_s = harness.tree_cpu_s() - self._cpu0
            self.unit_rows = self.rows

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append(msg)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# chat_serve
# ---------------------------------------------------------------------------

# The requests one chat receives, in the order the reference's UI issues
# them (SURVEY.md §1, §3, §6): the export is uploaded and ETL'd first
# (EP-2, `POST /upload-chats`); the graph page then asks for the network
# with the frontend's message limit (default 50, slider up to 500,
# `Form.jsx:28,250-253`), with a research's date range (`start_date`,
# `end_date`) and with no filter (EP-1's parameters are all optional);
# the word panel asks for the top 10 words (`Formgibui.jsx:63-83`).
# One request of each kind per chat is an assumption: the reference
# publishes no traffic.
NET = "network"
SESSION = (("upload", None), (NET, "limit"), (NET, "range"), (NET, "none"), ("words", None))
# The second session of every three is on a ~200K-line chat (the two big
# chats take turns), the others on small chats, visited in a
# fixed interleaved order of sizes; limits alternate between the
# frontend's default and its maximum. The seed changes only the chats'
# content, so a run's cost depends on the program and the machine.
BIG_EVERY = 3
SMALL_ORDER = (0, 2, 5, 9, 11, 4, 7, 1, 10, 3, 8, 6)  # indices into gen.SERVE_SIZES
BIG_CHATS = (12, 13)
LIMITS = (50, 500)
# Every metric covers the first UNIT_SESSIONS sessions, which every run
# serves (the loop runs at least that long): two small chats and one
# big one, 15 requests. The whole run's request count varies with speed,
# and with it the mix.
UNIT_SESSIONS = BIG_EVERY
UNIT_REQUESTS = UNIT_SESSIONS * len(SESSION)


def _date_span(lines: list[str]) -> tuple[dt.date, dt.date]:
    dates = [d for d, _, _ in oracle.parse_messages(lines[:50] + lines[-50:])]
    return min(dates), max(dates)


def serve_prepare(rng, work: str) -> dict:
    chats = gen.serve_pool(rng, os.path.join(work, "chats"))
    for c in chats:
        lo, hi = _date_span(c["lines"])
        c["range"] = (lo + (hi - lo) / 4, lo + (hi - lo) * 3 / 4)
    schedule, n_small = [], 0
    for s in range(200):  # far more than a run can serve
        if s % BIG_EVERY == 1:
            chat = BIG_CHATS[s // BIG_EVERY % len(BIG_CHATS)]
        else:
            chat = SMALL_ORDER[n_small % len(SMALL_ORDER)]
            n_small += 1
        schedule += [(endpoint, kind, chat, LIMITS[s % len(LIMITS)])
                     for endpoint, kind in SESSION]
    return {"chats": chats, "schedule": schedule,
            "table": os.path.join(work, "uploads")}


def _network_args(chat: dict, kind: str, limit: int):
    if kind == "range":
        return [d.isoformat() for d in chat["range"]] + [None]
    if kind == "limit":
        return [None, None, limit]
    return [None, None, None]


def _upstream(tr, df, *cols) -> float:
    """Forced time of just the columns a layer reads from its input: the
    base its self time is measured against. (The fully forced input is
    the wrong base, because Spark prunes the columns a layer ignores.)"""
    return tr.force("trace.upstream", df.select(*cols))


def _serve_trace_prelude(tr, spark, endpoint, path, args, acc) -> None:
    """Force each layer of one request in turn; accumulate self times."""
    raw = read_chat_lines(spark, path)
    a = tr.force("sources.chat.scan", raw)
    acc["scan"].append(a)
    if endpoint == "upload":
        return
    msgs = parse_chat_lines(raw)
    acc["parse"].append(tr.force("functions.chat_parse.parse", msgs) - a)
    acc["lines_in"].append(tr.count(raw))
    acc["msgs_out"].append(tr.count(msgs))
    if endpoint == "network":
        u = _upstream(tr, msgs, "line_id", "msg_date", "sender")
        nodes, edges = network.interaction_graph(msgs, *args)
        c = tr.force("operators.network.graph", nodes) + tr.force(
            "operators.network.graph", edges)
        acc["graph"].append(c - 2 * u)
        acc["graph_cum"].append(c)
    else:
        u = _upstream(tr, msgs, "message")
        w = tr.force("operators.text.wordfreq", text.word_freq(msgs, "message"))
        acc["wordfreq"].append(w - u)
        acc["wordfreq_cum"].append(w)


def serve_run(spark, data: dict, seconds: float, tr=None) -> Result:
    res = Result(percentile_ops=UNIT_REQUESTS)
    chats, schedule = data["chats"], data["schedule"]
    done = []  # (endpoint, kind, chat index, limit, response)
    acc: dict[str, list[float]] = defaultdict(list)
    ends: dict[str, list[float]] = defaultdict(list)
    res.start()
    t_start = time.perf_counter()
    for endpoint, kind, ci, limit in schedule:
        if res.attempted == UNIT_REQUESTS:
            res.unit_done()
        if time.perf_counter() - t_start >= seconds and res.attempted >= UNIT_REQUESTS:
            break
        chat = chats[ci]
        args = _network_args(chat, kind, limit)
        res.attempted += 1
        try:
            if tr is not None:
                _serve_trace_prelude(tr, spark, endpoint, chat["path"], args, acc)
            t0 = time.perf_counter()
            with tr.span("op") if tr is not None else contextlib.nullcontext():
                if endpoint == "network":
                    out = serve.analyze_network(spark, chat["path"], *args)
                elif endpoint == "words":
                    msgs = parse_chat_lines(read_chat_lines(spark, chat["path"]))
                    out = serve.analyze_words_response(msgs, 10)
                else:
                    out = serve.upload_chats_response(spark, chat["path"], data["table"])
            dt_s = time.perf_counter() - t0
        except Exception as e:  # a failed request is counted, the loop goes on
            res.fail(f"{endpoint} {kind} chat {ci}: {e!r}"[:300])
            continue
        res.latencies.append(dt_s)
        res.labels.append(f"{endpoint}:{kind or ''}:{len(chat['lines'])}")
        res.rows += len(chat["lines"])
        ends[endpoint].append(dt_s)
        done.append((endpoint, kind, ci, limit, out))
    res.stop()
    _serve_check(res, chats, done)
    if tr is not None:
        _serve_layers(res, acc, ends)
    return res


# The chats the forked check workers read (set before the pool forks).
_CHECK_CHATS: list[dict] = []


def _expected(request: tuple):
    """The oracle's answer to one request: the response itself for an
    upload or a word histogram, (nodes, edges) for a graph."""
    endpoint, kind, ci, limit = request
    chat = _CHECK_CHATS[ci]
    if endpoint == "upload":
        group, inserted, _ = oracle.upload(chat["lines"])
        return {"status": "success", "inserted_rows": inserted, "group_name": group}
    if endpoint == "words":
        return {"analysis": oracle.top_words(oracle.parse_messages(chat["lines"]), 10)}
    return oracle.analyze_network(chat["lines"], *_network_args(chat, kind, limit))


def _serve_check(res: Result, chats: list[dict], done: list) -> None:
    # The oracle takes seconds per ~200K-line chat, so it runs in forked
    # workers, the largest chats first, to keep a run short.
    requests = sorted({d[:4] for d in done}, key=lambda r: -len(chats[r[2]]["lines"]))
    _CHECK_CHATS[:] = chats
    with multiprocessing.get_context("fork").Pool(min(harness.cpu_count(), 4)) as pool:
        want = dict(zip(requests, pool.map(_expected, requests, chunksize=1)))
    for endpoint, kind, ci, limit, out in done:
        expected = want[(endpoint, kind, ci, limit)]
        if endpoint != "network":
            if out != expected:
                res.fail(f"{endpoint} chat {ci}: got {out}, want {expected}"[:300])
            continue
        nodes, edges = expected
        got_edges = Counter()
        for link in out["links"]:
            got_edges[(link["source"], link["target"])] += link["weight"]
        if (sorted(n["id"] for n in out["nodes"]) != nodes or dict(got_edges) != edges
                or len(out["links"]) != len(edges)):
            res.fail(f"network {kind} chat {ci}: graph differs from the oracle")


def _serve_layers(res: Result, acc, ends) -> None:
    coll = [e - c for e, c in zip(ends["network"], acc["graph_cum"])]
    coll += [e - w for e, w in zip(ends["words"], acc["wordfreq_cum"])]
    res.layers.update({
        "serve.network_s": _mean(ends["network"]),
        "serve.words_s": _mean(ends["words"]),
        "serve.upload_s": _mean(ends["upload"]),
        "serve.collect_s": _mean(coll),
        "sources.chat.scan_s": _mean(acc["scan"]),
        "functions.chat_parse.parse_s": _mean(acc["parse"]),
        "functions.chat_parse.survive_ratio":
            sum(acc["msgs_out"]) / max(sum(acc["lines_in"]), 1),
        "operators.network.graph_s": _mean(acc["graph"]),
        "operators.text.wordfreq_s": _mean(acc["wordfreq"]),
    })


# ---------------------------------------------------------------------------
# corpus_batch
# ---------------------------------------------------------------------------

LONG_WORDS = 20  # messages with at least this many words go to dedup


def corpus_prepare(rng, work: str) -> dict:
    c = gen.corpus(rng, os.path.join(work, "corpus"))
    files = [f["lines"] for f in c["files"]]
    edges = oracle.corpus_edges(files)
    long_texts = Counter(
        m for lines in files for _, _, m in oracle.parse_messages(lines)
        if m and len(m.split(" ")) >= LONG_WORDS
    )
    uploads = [oracle.upload(lines) for lines in files]
    return {
        "dir": os.path.join(work, "corpus"),
        "sink": os.path.join(work, "sink"),
        "rows": sum(len(lines) for lines in files),
        "edges": edges,
        "degrees": oracle.degrees(edges),
        "pagerank": oracle.pagerank(edges),
        "planted_pairs": sum(n * (n - 1) // 2 for n in long_texts.values() if n > 1),
        "inserted": sum(u[1] for u in uploads),
        "typed": sum(u[2] for u in uploads),
    }


def _long(msgs):
    return msgs.filter(F.size(F.split("message", " ")) >= LONG_WORDS)


def corpus_job(spark, data: dict, sink: str) -> dict:
    """The batch job: scan+parse, per-group lag edges, PageRank and
    degrees on the union graph, MinHash-LSH over long messages, ETL sink."""
    raw = read_chat_lines(spark, data["dir"])
    msgs = parse_chat_lines(raw)
    edges = network.lag_edges(msgs, "sender", ("line_id",), partition_cols=("file_path",))
    out = {"edges": edges.collect()}
    out["ranks"] = graph.pagerank(edges).collect()
    out["degrees"] = graph.degrees(edges).collect()
    out["pairs"] = minhash_lsh_pairs(
        _long(msgs), text_col="message", id_col="line_id").collect()
    table = etl.parse_chat_table(raw)
    out["inserted"] = etl.append_messages(table, sink)
    out["typed"] = etl.typed_messages(table).filter(F.col("ts").isNotNull()).count()
    return out


def _corpus_trace_prelude(tr, spark, data, acc) -> None:
    raw = read_chat_lines(spark, data["dir"])
    a = tr.force("sources.chat.scan", raw)
    msgs = parse_chat_lines(raw)
    acc["scan"].append(a)
    acc["parse"].append(tr.force("functions.chat_parse.parse", msgs) - a)
    acc["lines_in"].append(tr.count(raw))
    acc["msgs_out"].append(tr.count(msgs))
    u = _upstream(tr, msgs, "file_path", "line_id", "sender")
    edges = network.lag_edges(msgs, "sender", ("line_id",), partition_cols=("file_path",))
    g = tr.force("operators.network.graph", edges)
    acc["graph"].append(g - u)
    t0 = time.perf_counter()
    with tr.span("operators.graph.pagerank"):
        run_noop(graph.pagerank(edges))
    acc["pagerank"].append(time.perf_counter() - t0 - g)
    long = _long(msgs)
    u = _upstream(tr, long, "line_id", "message")
    t0 = time.perf_counter()
    with tr.span("operators.dedup.minhash"):
        run_noop(minhash_lsh_pairs(long, text_col="message", id_col="line_id"))
    acc["minhash"].append(time.perf_counter() - t0 - u)


def corpus_run(spark, data: dict, seconds: float, tr=None) -> Result:
    res = Result()
    outs = []
    acc: dict[str, list[float]] = defaultdict(list)
    res.start()
    t_start = time.perf_counter()
    i = 0
    while time.perf_counter() - t_start < seconds:
        sink = os.path.join(data["sink"], f"job{i}")
        i += 1
        res.attempted += 1
        try:
            if tr is not None:
                _corpus_trace_prelude(tr, spark, data, acc)
            t0 = time.perf_counter()
            with tr.span("op") if tr is not None else contextlib.nullcontext():
                out = corpus_job(spark, data, sink)
            res.latencies.append(time.perf_counter() - t0)
        except Exception as e:
            res.fail(f"corpus job {i}: {e!r}"[:300])
            continue
        res.rows += data["rows"]
        res.unit_done()  # the unit is one job
        outs.append(out)
    res.stop()
    texts = {
        r["line_id"]: r["message"]
        for r in _long(parse_chat_lines(read_chat_lines(spark, data["dir"])))
        .select("line_id", "message").collect()
    }
    recall = [_corpus_check(res, data, out, texts) for out in outs]
    if tr is not None:
        res.layers.update({
            "sources.chat.scan_s": _mean(acc["scan"]),
            "functions.chat_parse.parse_s": _mean(acc["parse"]),
            "functions.chat_parse.survive_ratio":
                sum(acc["msgs_out"]) / max(sum(acc["lines_in"]), 1),
            "operators.network.graph_s": _mean(acc["graph"]),
            "operators.graph.pagerank_s": _mean(acc["pagerank"]),
            "operators.dedup.minhash_s": _mean(acc["minhash"]),
            "operators.dedup.pairs_out": _mean(len(o["pairs"]) for o in outs),
            "operators.dedup.planted_recall": _mean(recall),
        })
    return res


def _corpus_check(res: Result, data: dict, out: dict, texts: dict) -> float:
    """Checks one job's outputs; returns its planted-pair recall."""
    bad = []
    got_edges = {(r["source"], r["target"]): r["weight"] for r in out["edges"]}
    if got_edges != data["edges"] or len(out["edges"]) != len(data["edges"]):
        bad.append("edges")
    if {r["id"]: (r["degree"], r["weighted_degree"]) for r in out["degrees"]} != data["degrees"]:
        bad.append("degrees")
    want_pr = data["pagerank"]
    got_pr = {r["id"]: r["rank"] for r in out["ranks"]}
    if got_pr.keys() != want_pr.keys() or any(
            abs(got_pr[k] - v) > 1e-9 * max(abs(v), 1e-12) for k, v in want_pr.items()):
        bad.append("pagerank")
    identical = sum(
        r["id_a"] in texts and texts[r["id_a"]] == texts.get(r["id_b"]) for r in out["pairs"])
    recall = identical / data["planted_pairs"] if data["planted_pairs"] else 0.0
    if identical != data["planted_pairs"] or len(out["pairs"]) != identical:
        bad.append(f"dedup pairs {len(out['pairs'])}/{identical}/{data['planted_pairs']}")
    if out["inserted"] != data["inserted"] or out["typed"] != data["typed"]:
        bad.append("etl counts")
    if bad:
        res.fail("corpus job: " + ", ".join(bad))
    return recall


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------

EPISODE_BATCHES = 8


def stream_prepare(rng, work: str) -> dict:
    batches = gen.stream_batches(rng, EPISODE_BATCHES)
    for b in batches:
        b["rows"] = oracle.stream_rows(b["lines"])
        b["bytes"] = len(("\n".join(b["lines"]) + "\n").encode("utf-8"))
    return {"batches": batches, "work": os.path.join(work, "stream")}


def _files_and_bytes(paths: list[str]) -> tuple[int, int]:
    """(regular files, bytes of distinct inodes) under the given trees."""
    seen, n = set(), 0
    for top in paths:
        for d, _, names in os.walk(top):
            for name in names:
                st = os.stat(os.path.join(d, name))
                n += 1
                seen.add((st.st_dev, st.st_ino, st.st_size))
    return n, sum(s for _, _, s in seen)


def _episode(spark, data: dict, ep: int, res: Result, tr, acc) -> None:
    base = os.path.join(data["work"], f"ep{ep}")
    landing, staging = os.path.join(base, "landing"), os.path.join(base, "staging")
    root = os.path.join(base, "table", "messages")
    os.makedirs(landing)
    os.makedirs(staging)
    committed = threading.Event()

    def handle(batch_df, batch_id):
        rows = batch_df.withColumn(
            "grp", F.regexp_extract("file_path", r"/(g\d+)_b\d+\.txt$", 1))
        with tr.span("sources.lake.commit", group=False) if tr else contextlib.nullcontext():
            append_batch_exactly_once(spark, root, rows, batch_id, "grp")
        if tr is not None:
            acc["files"].append(_files_and_bytes([lake.resolve_snapshot(root, spark)])[0])
        committed.set()

    query = (
        parse_chat_stream(stream_chat_lines(spark, landing))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(base, "checkpoint"))
        .start()
    )
    try:
        expected = Counter()
        landed = 0
        for b, batch in enumerate(data["batches"]):
            name = f"{batch['group']}_b{b:04d}.txt"
            gen.write_lines(os.path.join(staging, name), batch["lines"])
            expected[batch["group"]] += batch["rows"]
            res.attempted += 1
            committed.clear()
            t0 = time.perf_counter()
            with tr.span("op") if tr else contextlib.nullcontext():
                os.rename(os.path.join(staging, name), os.path.join(landing, name))
                if not committed.wait(timeout=90):
                    raise RuntimeError(f"batch {b} not committed: {query.exception()}")
                with tr.span("sources.lake.read_snapshot") if tr else contextlib.nullcontext():
                    seen = (lake.read_snapshot(spark, root)
                            .filter(F.col("grp") == batch["group"]).count())
            res.latencies.append(time.perf_counter() - t0)
            landed += batch["bytes"]
            res.rows += len(batch["lines"])
            if seen != expected[batch["group"]]:
                res.fail(f"episode {ep} batch {b}: {seen} rows visible, want "
                         f"{expected[batch['group']]}")
        if tr is not None:
            tr.listener.wait_for(str(query.id), len(data["batches"]))
    finally:
        query.stop()
    applied = lake.read_tree_meta(root).get("applied_batches")
    if applied != list(range(len(data["batches"]))):
        res.fail(f"episode {ep}: applied_batches {applied}")
    if tr is not None:
        table = os.path.dirname(root)
        acc["write_amp"].append(_files_and_bytes([table])[1] / landed)


def stream_run(spark, data: dict, seconds: float, tr=None) -> Result:
    res = Result()
    acc: dict[str, list[float]] = defaultdict(list)
    res.start()
    t_start = time.perf_counter()
    ep = 0
    while time.perf_counter() - t_start < seconds:
        try:
            _episode(spark, data, ep, res, tr, acc)
            res.unit_done()  # the unit is one episode, query start included
        except Exception as e:
            res.fail(f"episode {ep}: {e!r}"[:300])
        ep += 1
    res.stop()
    if tr is not None:
        res.layers.update({
            "sources.lake.commit_s": _mean(tr.durations("sources.lake.commit")),
            "sources.lake.read_snapshot_s": _mean(tr.durations("sources.lake.read_snapshot")),
            "sources.lake.files_per_commit": _mean(acc["files"]),
            "sources.lake.write_amp": _mean(acc["write_amp"]),
        })
    return res


WORKLOADS = {
    "chat_serve": (serve_prepare, serve_run),
    "corpus_batch": (corpus_prepare, corpus_run),
    "stream_ingest": (stream_prepare, stream_run),
}
