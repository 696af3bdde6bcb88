"""Seeded generators for WhatsApp-style chat exports.

Every function takes a `random.Random` built from the run's seed and
nothing else, so the same seed yields byte-identical files. The seed
changes the content (senders, words, timestamps, which lines are noise);
the sizes and the share of each line class are fixed, so runs on
different seeds do the same amount of work.

Line classes (FIXTURES.md F1): normal messages from several senders with
immediate self-replies, `~`/space/Hebrew/emoji senders, Hebrew
media-omitted lines, continuation lines of multi-line messages, system
lines without `": "`, unparseable dates, and a first line whose sender
is the group name.
"""

from __future__ import annotations

import datetime as dt
import os
import random

from chatbench import oracle

OMITTED = ("<המדיה הושמטה>", "תמונה הושמטה", "סטיקר הושמט")

# Sender spellings as they appear in exports; the parser normalises them
# (strip edge `~`, delete every space).
_FIRST = ("Dana", "Noam", "Yael", "Omer", "Maya", "Itai", "Shira", "Eitan",
          "Tamar", "Lior", "Roni", "Gal", "Adi", "Yoni", "Michal", "Ariel")
_LAST = ("Cohen", "Levi", "Mizrahi", "Peretz", "Biton", "Friedman", "Azulay")
_HEBREW = ("דני כהן", "רותי", "אבי לוי", "מיכל")
_EMOJI = ("🌸", "🐱🐶", "⭐")

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "da",
              "fe", "gi", "ho", "ju", "pa", "ro", "shi", "ta", "yo", "el")
_HEBREW_WORDS = ("שלום", "תודה", "מחר", "בוקר", "טוב", "אולי", "נתראה")


def _vocabulary(size: int = 3000) -> tuple[str, ...]:
    """A fixed word list, independent of the run seed."""
    rng = random.Random(20231007)
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return tuple(sorted(words)) + _HEBREW_WORDS


VOCAB = _vocabulary()


def sender_pool(rng: random.Random, n: int) -> list[str]:
    """n distinct raw sender spellings covering every F1 sender class."""
    specials = [f"~ {rng.choice(_FIRST)} {rng.choice(_LAST)}",
                rng.choice(_HEBREW), rng.choice(_EMOJI),
                f"{rng.choice(_FIRST)} {rng.choice(_LAST)} ~"]
    plain = [f"{f} {l}" for f in _FIRST for l in _LAST]
    rng.shuffle(plain)
    pool = []
    for s in specials + plain:
        norm = oracle.normalize_sender(s)
        if norm not in {oracle.normalize_sender(p) for p in pool}:
            pool.append(s)
        if len(pool) == n:
            return pool
    raise ValueError(f"sender pool too small for {n} senders")


def text(rng: random.Random, lo: int, hi: int) -> str:
    r = rng.random
    n = len(VOCAB)
    return " ".join([VOCAB[int(r() * n)] for _ in range(lo + int(r() * (hi - lo + 1)))])


def _stamp(t: dt.datetime) -> str:
    return f"[{t.day}.{t.month}.{t.year}, {t:%H:%M:%S}]"


def chat_lines(
    rng: random.Random,
    n_lines: int,
    senders: list[str],
    group_name: str,
    start: dt.datetime,
    long_share: float = 0.0,
    forwards: list[str] | None = None,
    forward_share: float = 0.0,
) -> list[str]:
    """One chat export of exactly n_lines lines.

    `long_share` of the messages carry 20-40 words (dedup candidates);
    `forward_share` of them are verbatim copies of a text from
    `forwards` (planted near-duplicates shared across groups)."""
    r = rng.random
    lines = [f"{_stamp(start)} {group_name}: {senders[0]} created this group"]
    day = dt.datetime(start.year, start.month, start.day)
    secs = (start - day).seconds  # seconds into `day`
    cur = int(r() * len(senders))
    while len(lines) < n_lines:
        secs += 5 + int(r() * 896)
        if secs >= 86400:
            day += dt.timedelta(days=secs // 86400)
            secs %= 86400
        hms = f"{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"
        date = f"{day.day}.{day.month}.{day.year}"
        if r() < 0.6:  # otherwise the same sender again: immediate self-replies
            cur = int(r() * len(senders))
        who = senders[cur]
        kind = r()
        if kind < 0.03:
            lines.append(f"[{date}, {hms}] {who}: ‎{rng.choice(OMITTED)}")
        elif kind < 0.05:
            lines.append(f"{rng.choice(VOCAB)} {rng.choice(VOCAB)}: {text(rng, 1, 6)}")
        elif kind < 0.06:
            lines.append(f"[{date}, {hms}] {who} joined using this group's invite link")
        elif kind < 0.065:
            lines.append(f"[99.99.{day.year}, {hms}] {who}: {text(rng, 1, 8)}")
        elif kind < 0.07:
            lines.append(f"[{day.day + 31}.{day.month}.{day.year}, {hms}] {who}: late")
        elif forwards and kind < 0.07 + forward_share:
            lines.append(f"[{date}, {hms}] {who}: {rng.choice(forwards)}")
        elif kind < 0.07 + forward_share + long_share:
            lines.append(f"[{date}, {hms}] {who}: {text(rng, 20, 40)}")
        else:
            lines.append(f"[{date}, {hms}] {who}: {text(rng, 1, 12)}")
        if r() < 0.04:
            lines.append(text(rng, 2, 10))  # continuation of a multi-line message
    return lines[:n_lines]


def write_lines(path: str, lines: list[str]) -> int:
    """Write a chat file; returns its size in bytes."""
    data = ("\n".join(lines) + "\n").encode("utf-8")
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def _start(rng: random.Random) -> dt.datetime:
    return dt.datetime(2022, 1, 1) + dt.timedelta(
        days=rng.randrange(700), seconds=rng.randrange(86400)
    )


def warm_chat(rng: random.Random, path: str) -> None:
    """A small chat the session serves once before it counts as warm."""
    write_lines(path, chat_lines(rng, 300, sender_pool(rng, 5), "Warm up", _start(rng)))


# Chat sizes for the serve pool: mostly 1K-20K lines plus two ~200K-line
# exports. Fixed, so every seed serves the same amount of text.
SERVE_SIZES = (1000, 1500, 2000, 3000, 4000, 5000, 6000, 8000, 10000,
               12000, 15000, 20000, 200000, 200000)


def serve_pool(rng: random.Random, out_dir: str) -> list[dict]:
    """The chat_serve pool: one file per chat; returns per-chat metadata."""
    os.makedirs(out_dir, exist_ok=True)
    chats = []
    for i, n in enumerate(SERVE_SIZES):
        senders = sender_pool(rng, rng.randint(4, 12))
        lines = chat_lines(rng, n, senders, f"Group {i} chat", _start(rng))
        path = os.path.join(out_dir, f"chat_{i:02d}.txt")
        chats.append({"path": path, "lines": lines, "bytes": write_lines(path, lines)})
    return chats


CORPUS_GROUPS = 16
CORPUS_SIZES = tuple(1000 + 500 * (i % 8) + 125 * i for i in range(CORPUS_GROUPS))


def corpus(rng: random.Random, out_dir: str, n_forwards: int = 40) -> dict:
    """The corpus_batch input: CORPUS_GROUPS group chats sharing one sender
    population, with `n_forwards` long texts planted verbatim in several
    groups each."""
    os.makedirs(out_dir, exist_ok=True)
    population = sender_pool(rng, 60)
    forwards = [text(rng, 25, 40) for _ in range(n_forwards)]
    files = []
    for g, n in enumerate(CORPUS_SIZES):
        senders = rng.sample(population, rng.randint(5, 12))
        # each group sees a subset of the forwards, so copies cross groups
        mine = rng.sample(forwards, 8)
        lines = chat_lines(rng, n, senders, f"Group {g}", _start(rng),
                           long_share=0.05, forwards=mine, forward_share=0.004)
        path = os.path.join(out_dir, f"group_{g:02d}.txt")
        write_lines(path, lines)
        files.append({"path": path, "lines": lines})
    return {"files": files, "forwards": forwards}


STREAM_GROUPS = 4
STREAM_BATCH_LINES = 400


def stream_batches(rng: random.Random, n_batches: int) -> list[dict]:
    """Micro-batch payloads for stream_ingest: batch b belongs to group
    b % STREAM_GROUPS and holds STREAM_BATCH_LINES lines."""
    batches = []
    t0 = _start(rng)
    senders = [sender_pool(rng, 6) for _ in range(STREAM_GROUPS)]
    for b in range(n_batches):
        g = b % STREAM_GROUPS
        lines = chat_lines(rng, STREAM_BATCH_LINES, senders[g], f"Stream {g}",
                           t0 + dt.timedelta(hours=b))
        batches.append({"group": f"g{g}", "lines": lines})
    return batches
