"""The input generator is deterministic per seed and covers the F1 line
classes; the benchmark's own oracle parts hold on hand-computed cases.

    python -m pytest chatbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import pytest

from chatbench import gen, oracle


def _digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + f.read())
    return h.hexdigest()


def _corpus_digest(seed: int, out: str) -> str:
    files = gen.corpus(random.Random(f"corpus_batch:{seed}"), out)["files"]
    return _digest([f["path"] for f in files])


def test_same_seed_gives_byte_identical_inputs(bench_tmp):
    assert _corpus_digest(7, f"{bench_tmp}/a") == _corpus_digest(7, f"{bench_tmp}/b")
    a = gen.stream_batches(random.Random(3), 4)
    assert a == gen.stream_batches(random.Random(3), 4)


def test_different_seed_gives_different_inputs(bench_tmp):
    assert _corpus_digest(7, f"{bench_tmp}/a") != _corpus_digest(8, f"{bench_tmp}/b")
    assert gen.stream_batches(random.Random(3), 4) != gen.stream_batches(random.Random(4), 4)


def test_sizes_do_not_depend_on_the_seed():
    for seed in (1, 2):
        rng = random.Random(seed)
        lines = gen.chat_lines(rng, 1234, gen.sender_pool(rng, 6), "G", dt.datetime(2023, 1, 1))
        assert len(lines) == 1234


def test_generator_covers_the_f1_line_classes():
    rng = random.Random(11)
    senders = gen.sender_pool(rng, 8)
    lines = gen.chat_lines(rng, 5000, senders, "Family Group", dt.datetime(2023, 10, 7, 9))
    body = lines[1:]
    # group-name first line: the upload path takes its sender as the group
    assert lines[0].split("] ", 1)[1].startswith("Family Group: ")
    assert oracle.upload(lines)[0] == "Family Group"
    # `~` and interior-space senders normalise to distinct ids
    assert any(s.startswith("~ ") and " " in s[2:] for s in senders)
    assert len({oracle.normalize_sender(s) for s in senders}) == len(senders)
    assert any(any("֐" <= ch <= "׿" for ch in s) for s in senders)
    # Hebrew media-omitted lines, continuation lines, bad dates, system lines
    assert any(tok in line for line in body for tok in oracle.OMITTED_TOKENS)
    assert any(not line.startswith("[") for line in body)
    assert any(line.startswith("[99.99.") for line in body)
    assert any(line.startswith("[") and ": " not in line for line in body)
    # every class drops out of the network parse, and something survives
    kept = oracle.parse_messages(lines)
    assert 0.8 * len(lines) < len(kept) < len(lines)
    # immediate self-replies exist (they advance the chain without an edge)
    assert any(a[1] == b[1] for a, b in zip(kept, kept[1:]))


def test_corpus_plants_forwards_across_groups(bench_tmp):
    c = gen.corpus(random.Random(5), f"{bench_tmp}/c")
    groups_per_forward = [
        sum(any(line.endswith(": " + f) for line in fi["lines"]) for fi in c["files"])
        for f in c["forwards"]
    ]
    assert sum(n >= 2 for n in groups_per_forward) >= len(c["forwards"]) // 2


# -- oracle semantics on hand-computed cases -------------------------------

CHAT = [
    "[1.10.2023, 09:00:00] Book Club: Ann created this group",
    "[1.10.2023, 10:00:00] ~ Ann Lee: hi all",
    "[2.10.2023, 10:00:00] Bob: hello there",
    "[2.10.2023, 10:05:00] Bob: again",                       # self-reply
    "[3.10.2023, 10:00:00] Cy: ‎<המדיה הושמטה>",              # media omitted
    "a continuation line: with a colon",
    "[99.99.2023, 10:00:00] Cy: bad date",
    "[5.10.2023, 10:00:00] Cy: out of range",
    "[4.10.2023, 10:00:00] Ann Lee~: back",
]


def test_oracle_message_parse_agrees_with_the_network_oracle():
    msgs = oracle.parse_messages(CHAT)
    assert [m[1] for m in msgs] == ["BookClub", "AnnLee", "Bob", "Bob", "Cy", "AnnLee"]
    # the word histogram's parse keeps exactly the network oracle's senders
    assert sorted({m[1] for m in msgs}) == oracle.analyze_network(CHAT)[0]
    assert oracle.corpus_edges([CHAT, CHAT]) == {
        k: 2 * w for k, w in oracle.analyze_network(CHAT)[1].items()}


def test_oracle_upload_and_words():
    group, inserted, typed = oracle.upload(CHAT)
    # every `[..] x: y` line but the group's own; bad dates still insert
    assert (group, inserted, typed) == ("Book Club", 7, 6)
    # ties break by word in code-point order: capitals first
    assert oracle.top_words(oracle.parse_messages(CHAT), 2) == {"Ann": 1, "again": 1}


@pytest.mark.parametrize("edges", [{("a", "b"): 2, ("b", "c"): 1, ("a", "c"): 1}])
def test_oracle_pagerank_sums_to_one(edges):
    ranks = oracle.pagerank(edges)
    assert abs(sum(ranks.values()) - 1.0) < 1e-12
    assert oracle.degrees(edges) == {"a": (2, 3), "b": (2, 3), "c": (2, 2)}
