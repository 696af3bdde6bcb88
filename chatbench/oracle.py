"""Pure-Python statement of the chat semantics the benchmark checks
that the repository's own test oracle does not cover.

The network graph (omit marks, structure gate, first `"] "` split,
d.M.Y day, sender normalisation, lone bound ignored, limit over
surviving lines, canonical `source <= target`) is checked with
`tests/reference_oracle.analyze_network`, which the repository's tests
already validate; it is re-exported here, and `corpus_edges` sums it
over files. This module adds, from the specification (FIXTURES.md
F1/F7, SURVEY.md §2):

- the message texts the network parse keeps (for the word histogram and
  the dedup candidates): the same line filters, the text after the
  sender's `:` with leading whitespace removed;
- the word histogram: top-k whitespace tokens, ties by word;
- upload parse: each stripped line is matched at its start against
  `[date] sender: message`; the first match's raw sender is the group
  name, and every match from that sender is skipped;
- the streaming parse's row count, and degrees/PageRank of a graph.
"""

from __future__ import annotations

import datetime as dt
import re
from collections import Counter

from tests.reference_oracle import analyze_network  # noqa: F401 (re-exported)

OMITTED_TOKENS = ("הושמטה", "הושמט")
# Java's \s is ASCII-only; spell it out so Python's Unicode \s never leaks in
_WS = "[ \t\n\x0b\f\r]"
_DATE = re.compile(r"(\d{1,2})\.(\d{1,2})\.(\d{4})")
_UPLOAD = re.compile(rf"\[([^\]]+)\]{_WS}*([^:]+):{_WS}*(.+)")
_TOKEN_SPLIT = re.compile(f"{_WS}+")


def _date(s: str) -> dt.date | None:
    m = _DATE.fullmatch(s)
    if not m:
        return None
    try:
        return dt.date(int(m.group(3)), int(m.group(2)), int(m.group(1)))
    except ValueError:
        return None


def normalize_sender(raw: str) -> str:
    return raw.strip("~").replace(" ", "").strip()


def _message_parts(line: str) -> tuple[str, str] | None:
    """(stamp, text after the first "] ") of a line the format filters
    keep, else None."""
    if any(tok in line for tok in OMITTED_TOKENS):
        return None
    if not (line.startswith("[") and "]" in line and ": " in line):
        return None
    head, sep, rest = line.partition("] ")
    if not sep or not normalize_sender(rest.split(":")[0]):
        return None
    return head.strip("[]"), rest


def _timestamp_ok(stamp: str) -> bool:
    date_s, _, time_s = stamp.partition(", ")
    return _date(date_s) is not None and bool(re.fullmatch(r"\d{1,2}:\d{2}:\d{2}", time_s))


def parse_messages(lines: list[str]) -> list[tuple[dt.date, str, str]]:
    """(date, sender, message) for every line the network parse keeps,
    in file order."""
    out = []
    for line in lines:
        parts = _message_parts(line)
        if parts is None:
            continue
        stamp, rest = parts
        d = _date(stamp.split(",")[0])
        if d is None:
            continue
        _, colon, msg = rest.partition(":")
        out.append((d, normalize_sender(rest.split(":")[0]),
                    re.sub(f"^{_WS}+", "", msg) if colon else None))
    return out


def top_words(messages: list[tuple[dt.date, str, str]], k: int = 10) -> dict[str, int]:
    """Top-k whitespace tokens of the message texts, ties by word."""
    freq: Counter = Counter()
    for _, _, msg in messages:
        if msg:
            freq.update(t for t in _TOKEN_SPLIT.split(msg) if t)
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return dict(ranked)


def upload(lines: list[str]) -> tuple[str | None, int, int]:
    """(group_name, inserted_rows, rows_with_valid_timestamp)."""
    group, inserted, typed = None, 0, 0
    for line in lines:
        m = _UPLOAD.match(re.sub(f"^{_WS}+|{_WS}+$", "", line))
        if not m:
            continue
        if group is None:
            group = m.group(2)
        if m.group(2) == group:
            continue
        inserted += 1
        typed += _timestamp_ok(m.group(1))
    return group, inserted, typed


def stream_rows(lines: list[str]) -> int:
    """Rows the streaming parse keeps: the network parse, but the whole
    `d.M.yyyy, HH:mm:ss` stamp must read as a timestamp."""
    return sum(
        1 for line in lines
        if (parts := _message_parts(line)) is not None and _timestamp_ok(parts[0])
    )


def corpus_edges(files: list[list[str]]) -> dict[tuple[str, str], int]:
    """Union graph of per-file chains (no edge crosses files)."""
    total: Counter = Counter()
    for lines in files:
        total.update(analyze_network(lines)[1])
    return dict(total)


def degrees(edges: dict[tuple[str, str], int]) -> dict[str, tuple[int, int]]:
    """{id: (degree, weighted_degree)} of an undirected weighted graph."""
    deg: dict[str, list[int]] = {}
    for (a, b), w in edges.items():
        for v in (a, b):
            d = deg.setdefault(v, [0, 0])
            d[0] += 1
            d[1] += w
    return {v: (d[0], d[1]) for v, d in deg.items()}


def pagerank(
    edges: dict[tuple[str, str], int], iterations: int = 10, damping: float = 0.85
) -> dict[str, float]:
    """Weighted PageRank on the undirected graph: each step sends
    rank * weight / weighted_degree along every directed edge."""
    wdeg = {v: d[1] for v, d in degrees(edges).items()}
    n = len(wdeg)
    rank = {v: 1.0 / n for v in wdeg}
    for _ in range(iterations):
        recv = dict.fromkeys(wdeg, 0.0)
        for (a, b), w in edges.items():
            recv[b] += rank[a] * w / wdeg[a]
            recv[a] += rank[b] * w / wdeg[b]
        rank = {v: (1.0 - damping) / n + damping * recv[v] for v in wdeg}
    return rank
