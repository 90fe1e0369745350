"""Inputs, oracle answers and small measurement helpers shared by the
workloads. Nothing here times anything the program does."""

from __future__ import annotations

import fnmatch
import os
import random
import re

from coa_codesearch_mcp_spark.fixtures.webgen import generate_webpages
from coa_codesearch_mcp_spark.oracle import pandas_oracle as oracle

K = 10
CLASSES = ("term", "or", "and", "phrase", "expand")
_WORD = re.compile(r"^[a-z]+$")


def page_seed(seed: int) -> int:
    """webgen seeds row i with ``seed + i``: neighbouring workload seeds
    would share almost every page, so spread them apart."""
    return (seed * 1_000_003 + 17) % (1 << 31)


def generate_pages(spark, n_pages: int, seed: int, vocab_size: int):
    """Seeded pages as a pandas frame (url, text, ...), in url order."""
    pdf = generate_webpages(
        spark, n_pages, seed=page_seed(seed), vocab_size=vocab_size
    ).toPandas()
    return pdf.sort_values("url").reset_index(drop=True)


def text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


# ------------------------------------------------------------ queries


def df_bands(ix) -> dict[str, list[str]]:
    """Query-term bands from the oracle's df, as tools/wand_skew_bench.py
    draws them: stopwords (df >= n/2), selective (4k..n/8: df >= 4k so
    the OR bootstrap engages) and rare (k..4k). Single-word lowercase
    terms only, so the planner routes them as plain terms."""
    n = ix.n_docs
    words = sorted(t for t in ix.postings if _WORD.match(t))
    df = {t: len(ix.postings[t]) for t in words}
    bands = {
        "stop": [t for t in words if df[t] >= n // 2],
        "selective": [t for t in words if 4 * K <= df[t] <= n // 8],
        "rare": [t for t in words if K <= df[t] < 4 * K],
    }
    for name, terms in bands.items():
        if len(terms) < 2:
            raise RuntimeError(f"df band {name!r} has {len(terms)} terms; resize the corpus")
    return bands


def phrase_pairs(texts, rng: random.Random, n: int, stop: set[str]) -> list[list[str]]:
    """Adjacent word pairs taken from the pages themselves, so every
    phrase query matches at least one page. Stopwords are left out: a
    pair with one costs twice as much as one without, and a pool of one
    phrase query per run would swing with the draw."""
    from coa_codesearch_mcp_spark.analysis.chains import analyze

    out = []
    while len(out) < n:
        toks = analyze("content", texts[rng.randrange(len(texts))])
        if len(toks) < 2:
            continue
        i = rng.randrange(len(toks) - 1)
        a, b = toks[i], toks[i + 1]
        if a != b and _WORD.match(a) and _WORD.match(b) and not {a, b} & stop:
            out.append([a, b])
    return out


def make_queries(ix, texts, seed: int, n: int) -> list[dict]:
    """A seeded query stream cycling through the five classes."""
    rng = random.Random(seed)
    bands = df_bands(ix)
    # the OR stopword is always the corpus's most frequent one: the
    # stopwords' posting lengths differ several-fold, and so does the
    # cost of an OR over them
    top_stop = max(bands["stop"], key=lambda t: (len(ix.postings[t]), t))
    pairs = phrase_pairs(texts, rng, n // len(CLASSES) + 1, set(bands["stop"]))
    prefixes = sorted({t[:2] for t in bands["selective"] + bands["rare"]})
    out = []
    for i in range(n):
        cls = CLASSES[i % len(CLASSES)]
        if cls == "term":
            terms = [rng.choice(bands["selective"] + bands["rare"])]
        elif cls == "or":
            # stopword x selective: the shape block-max WAND is built for
            terms = [top_stop, rng.choice(bands["selective"])]
        elif cls == "and":
            terms = _and_pair(ix, bands, rng)
        elif cls == "phrase":
            terms = pairs[i // len(CLASSES)]
        else:
            terms = [rng.choice(prefixes) + "*"]
        out.append({"cls": cls, "terms": terms})
    return out


def _and_pair(ix, bands, rng: random.Random) -> list[str]:
    for _ in range(200):
        a = rng.choice(bands["selective"])
        b = rng.choice(bands["selective"] + bands["stop"])
        if a != b and set(ix.postings[a]) & set(ix.postings[b]):
            return sorted([a, b])
    raise RuntimeError("no co-occurring AND pair")


def query_text(q: dict) -> str:
    """The user query string TextSearchEngine.search receives."""
    if q["cls"] == "phrase":
        return '"' + " ".join(q["terms"]) + '"'
    return " ".join(q["terms"])


def expected(ix, q: dict) -> list[tuple[int, float]]:
    """The oracle's top-k (doc_id, 4dp score) for one query."""
    cls, terms = q["cls"], q["terms"]
    if cls in ("term", "or"):
        return oracle.search_or(ix, terms, K)
    if cls == "and":
        return oracle.search_and(ix, terms, K)
    if cls == "phrase":
        return oracle.search_phrase(ix, terms, K)
    pattern = terms[0]
    matched = sorted(t for t in ix.postings if fnmatch.fnmatchcase(t, pattern))
    return oracle.search_or(ix, matched, K) if matched else []


def same_topk(got, want) -> bool:
    """Same doc ids in the same order, scores equal at 4 decimals
    (one rounding step of slack for float summation order)."""
    if len(got) != len(want):
        return False
    return all(
        gd == wd and abs(gs - ws) <= 1.5e-4 for (gd, gs), (wd, ws) in zip(got, want)
    )


# ------------------------------------------------------------ numbers


# HotSpot's JIT compiler threads (the name is cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str, reaped: bool) -> tuple[int, int]:
    """(parent pid, CPU ticks) from a /proc stat file: utime + stime,
    plus cutime + cstime of reaped children when ``reaped``."""
    with open(stat_path) as f:
        stat = f.read()
    fields = stat[stat.rindex(")") + 2:].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15 if reaped else 13])


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
            total += _ticks(f"/proc/{pid}/task/{tid}/stat", reaped=False)[1]
        except OSError:  # the thread ended while it was read
            continue
    return total


def work_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by a process tree: here the driver Python,
    the JVM it started and the JVM's Python workers, with the children
    each has reaped. The JVM's JIT compiler threads are left out: in a
    fresh JVM they compile in the background for minutes, and how much
    of that lands in a window says how far warm-up has got, not what
    the queries cost. CPU time swings less than wall time when a shared
    host slows the VM down."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid, ticks = _ticks(f"/proc/{entry}/stat", reaped=True)
        except OSError:  # the process ended while the table was read
            continue
        children.setdefault(ppid, []).append(int(entry))
        used[int(entry)] = ticks
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0) - _jit_ticks(pid)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
