"""Regenerate ooh_etl_spark/queries/_golden.py: golden oracle rows for
the two queries whose semantics no DuckDB SQL can recompute (VERDICT
r10 item 6), pinned at both driver fixture SFs and computed here by
PURE-PYTHON sequential reference implementations — no Spark involved —
so the oracle check is a genuine differential: distributed plumbing
(Arrow UDF batching, grouping, iterative joins) vs a one-process
reference.

- q125_compression_quality: zlib(level 6) deflate ratio per doc,
  bucketed census per (source, bucket). zlib shares the library with
  the Spark UDF by necessity (its determinism is the premise), but
  the batching/bucketing/aggregation paths are independent.
- q185_k_core: co-purchase graph peel to the true fixpoint with
  k = ceil(0.55 * percentile_disc(0.5) of the multi-edge degree) —
  set-based Python peel vs Spark's iterative join/aggregate loop.
- q217_unigram_viterbi: the full unigram-LM tokenization pipeline
  (vocab induction + per-word Viterbi DP, Kudo 2018) recomputed
  sequentially — one Python process, Counters and an explicit DP —
  against Spark's shuffle + driver-collected-vocab + mapInPandas
  pipeline. Same tie-break contract (score, fewer pieces,
  lexicographic), same integer micro-nat scores.

Usage: python tools/make_golden.py   (writes the module, prints counts)
"""
from __future__ import annotations

import math
import os
import zlib
from collections import Counter, defaultdict

import pyarrow.parquet as pq

SFS = {
    "sf0.001": "/root/testdata/sf0.001",
    "sf0.01": "/root/testdata/sf0.01",
}


def doc_signature(d: str) -> str:
    t = pq.read_table(f"{d}/documents.parquet", columns=["doc_id", "n_chars"])
    return (
        f"{t.num_rows}:{sum(t['n_chars'].to_pylist())}"
        f":{sum(t['doc_id'].to_pylist())}"
    )


def li_signature(d: str) -> str:
    t = pq.read_table(f"{d}/lineitem.parquet", columns=["l_partkey"])
    return f"{t.num_rows}:{sum(t['l_partkey'].to_pylist())}"


def q125_reference(d: str) -> list[tuple[str, str, int]]:
    t = pq.read_table(f"{d}/documents.parquet", columns=["source", "text"])
    census: Counter = Counter()
    for src, txt in zip(t["source"].to_pylist(), t["text"].to_pylist()):
        if txt is None or len(txt) == 0:
            ratio = None
        else:
            raw = txt.encode("utf-8")
            ratio = round(len(zlib.compress(raw, 6)) / len(raw), 4)
        # exactly q125's when-chain: NULL ratio falls to otherwise()
        if ratio is not None and ratio < 0.35:
            bucket = "repetitive"
        elif ratio is not None and ratio <= 0.75:
            bucket = "normal"
        else:
            bucket = "incompressible"
        census[(src, bucket)] += 1
    return sorted((s, b, n) for (s, b), n in census.items())


def q185_reference(d: str) -> list[tuple[int, int]]:
    t = pq.read_table(f"{d}/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    items = sorted(set(zip(t["l_orderkey"].to_pylist(), t["l_partkey"].to_pylist())))
    per_order: defaultdict = defaultdict(list)
    for o, p in items:
        per_order[o].append(p)
    # q185's edge list BEFORE dedup: one (a,b) per co-occurring order —
    # the multi-degree feeds the median exactly as Spark computes it
    multi_deg: Counter = Counter()
    dedup_edges: set = set()
    for parts in per_order.values():
        parts.sort()
        for i in range(len(parts)):
            for j in range(i + 1, len(parts)):
                a, b = parts[i], parts[j]
                multi_deg[a] += 1
                multi_deg[b] += 1
                dedup_edges.add((a, b))
    degs = sorted(multi_deg.values())
    med = degs[math.ceil(0.5 * len(degs)) - 1]  # percentile_disc(0.5)
    k = math.ceil(0.55 * med)
    adj: defaultdict = defaultdict(set)
    for a, b in dedup_edges:
        adj[a].add(b)
        adj[b].add(a)
    alive = {n for n in adj if len(adj[n]) >= 0}
    while True:
        drop = {n for n in alive if len(adj[n] & alive) < k}
        if not drop:
            break
        alive -= drop
    return sorted((n, len(adj[n] & alive)) for n in alive), k


def q217_reference(d: str) -> list[tuple[str, int, str, int, int]]:
    import re

    t = pq.read_table(f"{d}/documents.parquet", columns=["text"])
    freq: Counter = Counter()
    for txt in t["text"].to_pylist():
        for w in re.split(r"\s+", (txt or "").lower()):
            if w:
                freq[w] += 1
    # Candidate substrings len 2..4, frequency-weighted over distinct words
    subs: Counter = Counter()
    for w, f in freq.items():
        for piece_len in range(2, 5):
            if len(w) >= piece_len:
                for i in range(len(w) - piece_len + 1):
                    subs[w[i : i + piece_len]] += f
    top = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    chars: Counter = Counter()
    for w, f in freq.items():
        for ch in w:
            chars[ch] += f
    pieces: dict = dict(chars)
    for p, c in top:
        pieces[p] = max(pieces.get(p, 0), c)
    total = sum(pieces.values())
    score = {
        p: int(round(1_000_000 * math.log(c / total))) for p, c in pieces.items()
    }
    rows = []
    for w, f in freq.items():
        dp = [None] * (len(w) + 1)
        dp[0] = (0, 0, ())
        for i in range(1, len(w) + 1):
            best = None
            for piece_len in range(1, min(4, i) + 1):
                p = w[i - piece_len : i]
                prev = dp[i - piece_len]
                if prev is None or p not in score:
                    continue
                cand = (prev[0] + score[p], prev[1] - 1, prev[2] + (p,))
                if (
                    best is None
                    or (cand[0], cand[1]) > (best[0], best[1])
                    or (
                        (cand[0], cand[1]) == (best[0], best[1])
                        and cand[2] < best[2]
                    )
                ):
                    best = cand
            dp[i] = best
        fin = dp[len(w)]
        rows.append((w, f, "|".join(fin[2]), -fin[1], fin[0]))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:50]


def main() -> int:
    lines = [
        '"""GENERATED by tools/make_golden.py — do not edit by hand.',
        "",
        "Golden oracle rows for queries whose semantics DuckDB SQL cannot",
        "recompute, pinned per fixture signature; computed by the pure-",
         "Python reference implementations in tools/make_golden.py.\"\"\"",
        "",
    ]
    g125 = {}
    g185 = {}
    g217 = {}
    for sf, d in SFS.items():
        sig = doc_signature(d)
        g125[sig] = q125_reference(d)
        lsig = li_signature(d)
        core, k = q185_reference(d)
        g185[lsig] = core
        g217[sig] = q217_reference(d)
        print(f"{sf}: q125 {len(g125[sig])} census rows (sig {sig}); "
              f"q185 k={k}, {len(core)} core nodes (sig {lsig}); "
              f"q217 {len(g217[sig])} rows")
    lines.append(f"GOLDEN_Q125 = {g125!r}")
    lines.append("")
    lines.append(f"GOLDEN_Q185 = {g185!r}")
    lines.append("")
    lines.append(f"GOLDEN_Q217 = {g217!r}")
    lines.append("")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ooh_etl_spark", "queries", "_golden.py",
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
