"""Seeded input generators for the four workloads.

Every generator is a pure function of its arguments: the same seed gives the
same inputs.  Each returns the generated data together with a ``props`` dict
recording the input properties and sizes, so a claim made on one seed can be
re-checked on a fresh one.

Every share and skew below (request mix, key popularity, mega-keys,
duplicate, filtered, hot and revisit captures, delta overlap, document and
graph structure) is an assumption chosen so each code path gets work; no
CDX sample or server access log backs them.  perfbench/README.md lists them.
"""

from __future__ import annotations

import base64
import bisect
import random
from datetime import datetime, timedelta

_EPOCH = datetime(2020, 1, 1)


class Zipf:
    """Sampler of ranks 0..n-1 with P(k) proportional to 1 / (k + 1) ** s."""

    def __init__(self, n: int, s: float, rng: random.Random):
        self.rng = rng
        acc, self.cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)

    def __call__(self) -> int:
        return bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])


def _rng(seed: int, stream: str) -> random.Random:
    return random.Random(f"{seed}:{stream}")


def _digest(rng: random.Random) -> str:
    """32-character base32 payload digest, as in real CDX lines."""
    return base64.b32encode(rng.getrandbits(160).to_bytes(20, "big")).decode()


# ---------------------------------------------------------------------------
# CDX captures


def host_name(h: int) -> str:
    return f"h{h}.site{h % 13}.com"


def host_surt(h: int) -> str:
    return f"com,site{h % 13},h{h})"


def url_of(h: int, p: int) -> tuple[str, str]:
    """(original_url, urlkey) of path ``p`` on host ``h``."""
    path = f"/a/{p}.html"
    return f"http://{host_name(h)}{path}", host_surt(h) + path


def ts14(day: int, sec: int) -> str:
    return (_EPOCH + timedelta(days=day, seconds=sec)).strftime("%Y%m%d%H%M%S")


def render(row: tuple) -> str:
    """Typed CDX row -> 11-field text line (None -> '-')."""
    return " ".join("-" if v is None else str(v) for v in row)


def cdx_batch(
    seed: int,
    stream: str,
    n_lines: int,
    n_hosts: int = 300,
    paths_per_host: int = 40,
    days: int = 28,
    hot_pairs: int = 12,
    hot_share: float = 0.06,
    dup_share: float = 0.03,
    drop_share: float = 0.05,
    revisit_share: float = 0.02,
    copy_from: list[tuple] | None = None,
    copy_share: float = 0.0,
) -> tuple[list[tuple], list[str], dict]:
    """One batch of raw CDX captures, in crawl (unsorted) order.

    Returns (typed rows, text lines, props).  Host popularity is Zipf;
    ``hot_share`` of the captures pile onto ``hot_pairs`` (url, day) pairs
    so they exceed any small daily cap; ``dup_share`` are exact repeats of
    an earlier line; ``drop_share`` are lines the index filters must drop
    (dns:/filedesc: keys, the ``A`` meta flag, live-* 502/504); ``copy_share``
    are exact copies of rows from ``copy_from`` (a delta overlapping its
    base).
    """
    rng = _rng(seed, stream)
    zipf = Zipf(n_hosts, 1.1, rng)
    hot = [
        (zipf(), rng.randrange(paths_per_host), rng.randrange(days))
        for _ in range(hot_pairs)
    ]
    rows: list[tuple] = []
    kinds = {"hot": 0, "dup": 0, "copy": 0, "drop_key": 0, "drop_meta": 0,
             "drop_live": 0, "revisit": 0}
    for i in range(n_lines):
        r = rng.random()
        if rows and r < dup_share:
            rows.append(rows[rng.randrange(len(rows))])
            kinds["dup"] += 1
            continue
        r -= dup_share
        if copy_from and r < copy_share:
            rows.append(copy_from[rng.randrange(len(copy_from))])
            kinds["copy"] += 1
            continue
        r -= copy_share
        if r < hot_share:
            h, p, day = hot[rng.randrange(hot_pairs)]
            kinds["hot"] += 1
        else:
            h, p, day = zipf(), rng.randrange(paths_per_host), rng.randrange(days)
        url, key = url_of(h, p)
        ts = ts14(day, rng.randrange(86400))
        digest = _digest(rng)
        length = rng.randrange(300, 20000)
        offset = rng.randrange(1, 10**9)
        fname = f"CRAWL-202001{1 + day % 28:02d}-{rng.randrange(100):05d}.warc.gz"
        mime, status, meta = "text/html", rng.choice((200,) * 8 + (301, 302, 404)), None
        u = rng.random()
        if u < drop_share:
            kind = rng.randrange(3)
            if kind == 0:
                key = rng.choice(("dns:", "filedesc:")) + host_name(h)
                kinds["drop_key"] += 1
            elif kind == 1:
                meta = "A"
                kinds["drop_meta"] += 1
            else:
                status = rng.choice((502, 504))
                fname = f"live-202001{1 + day % 28:02d}120000-{rng.randrange(100):05d}.arc.gz"
                kinds["drop_live"] += 1
        elif u < drop_share + revisit_share:
            mime, status = "warc/revisit", None
            kinds["revisit"] += 1
        rows.append(
            (key, ts, url, mime, status, digest, None, meta, length, offset, fname)
        )
    rng.shuffle(rows)
    lines = [render(r) for r in rows]
    props = {
        "lines": n_lines,
        "input_bytes": sum(len(x) + 1 for x in lines),
        "hosts": n_hosts,
        "paths_per_host": paths_per_host,
        "host_zipf_s": 1.1,
        "days": days,
        "hot_url_day_pairs": hot_pairs,
        "share_hot": round(kinds["hot"] / n_lines, 4),
        "share_exact_dup": round(kinds["dup"] / n_lines, 4),
        "share_copied_from_base": round(kinds["copy"] / n_lines, 4),
        "share_dropped_by_filters": round(
            (kinds["drop_key"] + kinds["drop_meta"] + kinds["drop_live"]) / n_lines, 4
        ),
        "drop_kinds": {k: kinds[k] for k in ("drop_key", "drop_meta", "drop_live")},
        "share_warc_revisit": round(kinds["revisit"] / n_lines, 4),
    }
    return rows, lines, props


def lookup_cluster_lines(
    seed: int, n_keys: int, mega_share: float = 0.01
) -> tuple[dict[str, list[str]], list[str], list[str], dict]:
    """Sorted CDX lines for the serving workload: ``n_keys`` urlkeys with
    10-30 captures each, except a ``mega_share`` of mega-keys with 200-400
    captures spanning many blocks; (urlkey, timestamp) pairs are unique.
    Returns ({urlkey: sorted lines}, all lines sorted, mega keys, props)."""
    rng = _rng(seed, "lookup-cluster")
    n_mega = max(1, int(mega_share * n_keys))
    mega = set(rng.sample(range(n_keys), n_mega))
    by_key: dict[str, list[str]] = {}
    mega_keys = []
    for i in range(n_keys):
        url, key = url_of(1000 + i // 20, i % 20)
        n = rng.randint(200, 400) if i in mega else rng.randint(10, 30)
        if i in mega:
            mega_keys.append(key)
        lines = []
        for s in sorted(rng.sample(range(0, 3 * 365 * 86400, 7), n)):
            lines.append(render((key, ts14(s // 86400, s % 86400), url, "text/html", 200,
                                 _digest(rng), None, None, rng.randrange(300, 20000),
                                 rng.randrange(10**9), "CRAWL-00001.warc.gz")))
        by_key[key] = lines
    all_lines = sorted(line for ls in by_key.values() for line in ls)
    props = {
        "keys": n_keys,
        "lines": len(all_lines),
        "input_bytes": sum(len(x) + 1 for x in all_lines),
        "captures_per_key": "10-30",
        "mega_keys": n_mega,
        "captures_per_mega_key": "200-400",
    }
    return by_key, all_lines, sorted(mega_keys), props


def lookup_requests(
    seed: int,
    keys: list[str],
    mega_keys: list[str],
    n: int,
    hot_keys: int = 200,
    hot_share: float = 0.7,
    mega_ranks: tuple[int, ...] = (3, 10, 30, 60, 120),
    mix: tuple[float, float, float, float] = (0.70, 0.10, 0.10, 0.10),
) -> tuple[list[dict], dict]:
    """Request stream: closest point lookups, range pages, page-count probes
    and misses (mix in that order).  Keys are a Zipf-popular share drawn
    from ``hot_keys`` keys plus a uniform share over all keys.  Mega-keys
    sit at the fixed popularity ranks ``mega_ranks``, so every seed offers
    the same cost profile."""
    rng = _rng(seed, "lookup-requests")
    mega = set(mega_keys)
    hot = rng.sample([k for k in keys if k not in mega], hot_keys - len(mega_ranks))
    for rank, key in zip(mega_ranks, rng.sample(mega_keys, len(mega_ranks))):
        hot.insert(rank, key)
    zipf = Zipf(len(hot), 1.0, rng)
    skeys = sorted(keys)
    reqs = []
    kinds = {"closest": 0, "range": 0, "numpages": 0, "miss": 0}
    for _ in range(n):
        key = hot[zipf()] if rng.random() < hot_share else rng.choice(keys)
        u = rng.random()
        ts = ts14(rng.randrange(3 * 365), rng.randrange(86400))
        if u < mix[0]:
            reqs.append({"kind": "closest", "key": key, "ts": ts,
                         "limit": rng.choice((1, 1, 3))})
        elif u < mix[0] + mix[1] + mix[2]:
            i = bisect.bisect_left(skeys, key)
            j = min(len(skeys) - 1, i + rng.randrange(1, 40))
            start, end = skeys[i], skeys[j]
            if u < mix[0] + mix[1]:
                reqs.append({"kind": "range", "start": start, "end": end,
                             "page": 0})
            else:
                reqs.append({"kind": "numpages", "start": start, "end": end})
        else:
            reqs.append({"kind": "miss", "key": key[:-5] + "zzz.html", "ts": ts,
                         "limit": 1})
        kinds[reqs[-1]["kind"]] += 1
    props = {
        "requests": n,
        "hot_keys": len(hot),
        "hot_share": hot_share,
        "hot_zipf_s": 1.0,
        "mega_key_hot_ranks": list(mega_ranks),
        "mix": {k: round(v / n, 4) for k, v in kinds.items()},
    }
    return reqs, props


# ---------------------------------------------------------------------------
# documents


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randrange(3, 9)))


def documents(
    seed: int,
    n_docs: int,
    words_per_doc: int = 60,
    vocab: int = 4000,
    dup_share: float = 0.08,
    neardup_groups: int = 30,
    neardup_size: int = 3,
    quality_fail_share: float = 0.05,
    contaminated_share: float = 0.03,
    bench_items: int = 20,
) -> tuple[list[tuple[int, str]], list[str], dict, dict]:
    """Corpus with known duplicate structure.

    Returns (docs [(doc_id, text)], benchmark texts, truth, props).  Words
    are Zipf over a fixed vocabulary; no word exceeds 15% of a clean doc, so
    clean docs pass every default quality rule.  ``truth`` names the exact
    duplicate ids, the near-duplicate groups (a base doc plus variants that
    each replace one word), the quality failures (too short, or one word
    repeated) and the docs quoting a benchmark item.
    """
    rng = _rng(seed, "docs")
    words = sorted({_word(rng) for _ in range(vocab * 2)})[:vocab]
    rng.shuffle(words)
    zipf = Zipf(len(words), 1.0, rng)
    cap = max(1, int(0.15 * words_per_doc))

    def clean_text(n: int) -> list[str]:
        while True:
            ws = [words[zipf()] for _ in range(n)]
            counts: dict[str, int] = {}
            for w in ws:
                counts[w] = counts.get(w, 0) + 1
            grams = list(zip(ws, ws[1:]))
            if max(counts.values()) <= cap and len(set(grams)) == len(grams):
                return ws

    bench = [" ".join(clean_text(20)) for _ in range(bench_items)]
    texts: list[str] = []
    truth = {"exact_dups": [], "neardup_groups": [], "quality_fail": [],
             "contaminated": []}
    n_special = neardup_groups * neardup_size
    for g in range(neardup_groups):
        base = clean_text(words_per_doc)
        group = [len(texts)]
        texts.append(" ".join(base))
        for v in range(1, neardup_size):
            var = list(base)
            pos = (v * words_per_doc) // neardup_size
            var[pos] = _word(rng) + "q"  # a word outside the vocabulary
            group.append(len(texts))
            texts.append(" ".join(var))
        truth["neardup_groups"].append(group)
    while len(texts) < n_docs:
        r = rng.random()
        i = len(texts)
        if r < dup_share and len(texts) > n_special:
            texts.append(texts[rng.randrange(n_special, len(texts))])
            truth["exact_dups"].append(i)
        elif r < dup_share + quality_fail_share:
            if rng.random() < 0.5:
                texts.append(" ".join(clean_text(3)))
            else:
                w = words[zipf()]
                ws = clean_text(words_per_doc // 2)
                texts.append(" ".join(x for pair in zip(ws, [w] * len(ws)) for x in pair))
            truth["quality_fail"].append(i)
        elif r < dup_share + quality_fail_share + contaminated_share:
            ws = clean_text(words_per_doc)
            item = bench[rng.randrange(len(bench))].split()
            at = rng.randrange(len(item) - 10)
            ws[10:20] = item[at : at + 10]
            texts.append(" ".join(ws))
            truth["contaminated"].append(i)
        else:
            texts.append(" ".join(clean_text(words_per_doc)))
    order = list(range(len(texts)))
    rng.shuffle(order)
    # doc ids: a random permutation, so group members are not id-adjacent
    ids = {old: new + 1 for new, old in enumerate(order)}
    docs = sorted((ids[i], t) for i, t in enumerate(texts))
    truth = {
        "exact_dups": sorted(ids[i] for i in truth["exact_dups"]),
        "neardup_groups": [sorted(ids[i] for i in g) for g in truth["neardup_groups"]],
        "quality_fail": sorted(ids[i] for i in truth["quality_fail"]),
        "contaminated": sorted(ids[i] for i in truth["contaminated"]),
    }
    props = {
        "docs": len(docs),
        "words_per_doc": words_per_doc,
        "vocab": vocab,
        "word_zipf_s": 1.0,
        "share_exact_dup": round(len(truth["exact_dups"]) / len(docs), 4),
        "neardup_groups": neardup_groups,
        "neardup_group_size": neardup_size,
        "share_quality_fail": round(len(truth["quality_fail"]) / len(docs), 4),
        "share_contaminated": round(len(truth["contaminated"]) / len(docs), 4),
        "benchmark_items": bench_items,
        "input_bytes": sum(len(t) + 1 for _, t in docs),
    }
    return docs, bench, truth, props


# ---------------------------------------------------------------------------
# link graph


def link_graph(
    seed: int, n_nodes: int, edges_per_node: int = 4
) -> tuple[list[tuple[int, int]], dict]:
    """Directed host links by preferential attachment: each new host links
    to ``edges_per_node`` earlier hosts picked in proportion to their degree
    (heavy-tailed degrees), plus a few reciprocal and duplicate links."""
    rng = _rng(seed, "graph")
    targets: list[int] = [0, 1]
    pairs: list[tuple[int, int]] = [(1, 0)]
    for v in range(2, n_nodes):
        picks = {targets[rng.randrange(len(targets))] for _ in range(edges_per_node)}
        for u in picks:
            pairs.append((v, u))
            if rng.random() < 0.1:
                pairs.append((u, v))
            targets.append(u)
        targets.extend([v] * len(picks))
    for _ in range(len(pairs) // 50):
        pairs.append(pairs[rng.randrange(len(pairs))])
    rng.shuffle(pairs)
    degree: dict[int, int] = {}
    for a, b in pairs:
        degree[a] = degree.get(a, 0) + 1
        degree[b] = degree.get(b, 0) + 1
    props = {
        "nodes": n_nodes,
        "pairs": len(pairs),
        "attach_edges_per_node": edges_per_node,
        "max_degree": max(degree.values()),
        "mean_degree": round(sum(degree.values()) / len(degree), 3),
    }
    return pairs, props
