#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --seed 7 --out DIR [--workload NAME ...] [--scale tiny]

writes, for each requested workload, a directory DIR/<workload>/ holding
everything that workload reads. The same seed and scale give byte-identical
files; the engine only ever sees the paths.

Corpora keep the shape of the engine's sf0.1 fixture (documents: doc_id,
text, lang, source, n_chars; events: event_id, ts, user_id, event_type,
value, props). Document text resamples the fixture's 31-word vocabulary at
its measured frequencies and then perturbs it: about a third of the tokens
are replaced by pseudo-words drawn Zipf-skewed from a fixed 4000-word
lexicon, so unrelated documents are not cosine near-duplicates of each other.
Near-duplicate families are planted on top (a root text copied with a few
token edits), plus byte-identical copies. Keys are shifted by a seeded
offset so no two seeds share doc ids.
"""
import argparse
import collections
import datetime
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word frequencies of the sf0.1 documents fixture (whitespace tokens).
BASE_WORDS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}
# The engine tokenizer's stop words (graft.functions.TextFns.Stopwords):
# kept out of the lexicon so every drawn query term survives tokenization.
STOPWORDS = set("""
i me my myself we our ours ourselves you your yours yourself yourselves he him
his himself she her hers herself it its itself they them their theirs themselves
what which who whom this that these those am is are was were be been being have
has had having do does did doing a an the and but if or because as until while
of at by for with about against between into through during before after above
below to from up down in out on off over under again further then once
""".split())
LANGS = (["en", "zh", "es", "fr", "de"], [0.412, 0.151, 0.149, 0.148, 0.140])
EVENT_TYPES = ["error", "view", "purchase", "signup", "click"]
EPOCH_2024 = 1704067200  # 2024-01-01 00:00:00 UTC

# Per-workload sizes. "full" is what the benchmark measures; "tiny" is the
# self-test size.
SIZES = {
    "full": {
        "analyst_docs": 500, "analyst_events": 15000, "analyst_users": 250,
        "export_claude": 22, "export_chatgpt": 16,
        "warm_docs": 120, "warm_events": 1500,
        "requests": 700,
    },
    "tiny": {
        "analyst_docs": 150, "analyst_events": 2000, "analyst_users": 40,
        "export_claude": 10, "export_chatgpt": 8,
        "warm_docs": 60, "warm_events": 500,
        "requests": 140,
    },
}
WORKLOADS = ["analyst_fit", "export_pipeline"]


def lexicon(n=4000):
    """Fixed pseudo-word lexicon (independent of the seed): lowercase
    letter strings of 2-4 syllables, none equal to a base word."""
    r = np.random.default_rng(20240101)
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    seen, out = set(BASE_WORDS) | STOPWORDS, []
    while len(out) < n:
        k = int(r.integers(2, 5))
        w = "".join(cons[int(r.integers(len(cons)))] + vows[int(r.integers(len(vows)))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


LEXICON = lexicon()
_base = np.array(list(BASE_WORDS))
_base_p = np.array(list(BASE_WORDS.values()), dtype=float)
_base_p /= _base_p.sum()
_lex = np.array(LEXICON)
_lex_p = 1.0 / np.arange(1, len(LEXICON) + 1) ** 1.1
_lex_p /= _lex_p.sum()
EXT_SHARE = 0.35


def tokens(rng, n):
    """n corpus tokens: base words at fixture frequencies, EXT_SHARE of them
    replaced by Zipf-drawn lexicon words."""
    base = rng.choice(_base, size=n, p=_base_p)
    ext = rng.choice(_lex, size=n, p=_lex_p)
    return np.where(rng.random(n) < EXT_SHARE, ext, base)


def perturb(rng, toks, rate):
    """Replace about `rate` of the tokens with fresh corpus tokens."""
    toks = toks.copy()
    hit = rng.random(len(toks)) < rate
    if hit.any():
        toks[hit] = tokens(rng, int(hit.sum()))
    return toks


def family_sizes(rng, n_members, hot):
    """Heavy-tailed family sizes summing to about n_members: one hot
    family of `hot` members (0 for none), the rest Pareto-distributed."""
    sizes = [hot] if hot else []
    left = n_members - hot
    while left > 1:
        s = int(min(left, 2 + rng.pareto(1.6)))
        sizes.append(s)
        left -= s
    return sizes


def corpus_texts(rng, n_docs, near_share=0.04, exact_share=0.01, edit_rate=0.04):
    """Document texts with planted near-duplicate families (root + copies
    with `edit_rate` token edits) and byte-identical copies."""
    lens = rng.integers(10, 101, size=n_docs)
    docs = np.split(tokens(rng, int(lens.sum())), np.cumsum(lens)[:-1])
    order = rng.permutation(n_docs)
    pos = 0
    n_near = int(n_docs * near_share)
    for size in family_sizes(rng, n_near, 0):
        if pos + size > n_docs:
            break
        members = order[pos:pos + size]
        pos += size
        root = docs[members[0]]
        if len(root) < 40:  # short roots make edits dominate the cosine
            root = tokens(rng, int(rng.integers(40, 101)))
            docs[members[0]] = root
        for m in members[1:]:
            docs[m] = perturb(rng, root, edit_rate)
    n_exact = int(n_docs * exact_share)
    for _ in range(n_exact):
        if pos + 2 > n_docs:
            break
        src, dst = order[pos], order[pos + 1]
        pos += 2
        docs[dst] = docs[src]
    return [" ".join(d) for d in docs]


def write_parquet(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def write_documents(rng, path, n_docs):
    texts = corpus_texts(rng, n_docs)
    offset = int(rng.integers(0, 1 << 30)) * 8
    doc_id = np.arange(n_docs, dtype=np.int64) + offset
    lang = rng.choice(LANGS[0], size=n_docs, p=LANGS[1])
    source = np.char.add("src", rng.integers(0, 20, size=n_docs).astype(str))
    write_parquet(pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(source.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)
    return doc_id, texts


def write_events(rng, path, n_events, n_users):
    offset = int(rng.integers(0, 1 << 30)) * 4
    user_offset = int(rng.integers(0, 1 << 20)) * 4
    secs = np.sort(rng.random(n_events)) * 30 * 86400
    ts_us = (EPOCH_2024 * 1_000_000 + (secs * 1e6).astype(np.int64))
    write_parquet(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64) + offset, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events) + user_offset, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)],
                          pa.string()),
    }), path)


def write_corpus(rng, d, n_docs, n_events, n_users):
    ids, texts = write_documents(rng, f"{d}/documents.parquet", n_docs)
    write_events(rng, f"{d}/events.parquet", n_events, n_users)
    return ids, texts


# --- analyst request schedules ---------------------------------------------

REQUEST_KINDS = [
    "keyword", "boolean", "context", "semantic", "hybrid", "probe_phrase",
    "probe_hybrid", "event_pairs", "user_summary", "time_activity",
    "error_context", "bm25", "unique_docs", "near_dups",
]


_zipf_cdf = {}


QUERY_TERMS = 3  # fixed, so a request's cost varies with its terms, not their number


def zipf_pick(rng, items, s=1.2):
    """One item, rank-Zipf-skewed (the first item is the most likely)."""
    key = (len(items), s)
    if key not in _zipf_cdf:
        w = np.cumsum(1.0 / np.arange(1, len(items) + 1) ** s)
        _zipf_cdf[key] = w / w[-1]
    i = int(np.searchsorted(_zipf_cdf[key], rng.random(), side="right"))
    return items[min(i, len(items) - 1)]


def corpus_vocab(texts):
    """Query vocabulary: tokenizer-visible words (3+ letters, not 'the'/'dup')
    ranked by corpus frequency."""
    counts = collections.Counter(" ".join(texts).split())
    return sorted((w for w in counts if len(w) >= 3 and w not in STOPWORDS and w != "dup"),
                  key=lambda w: (-counts[w], w))


def request(rng, kind, corpus):
    vocab, ids, texts, family_ids = corpus["vocab"], corpus["ids"], corpus["texts"], corpus["fam"]
    r = {"kind": kind}
    if kind in ("keyword", "context"):
        r["kw"] = zipf_pick(rng, vocab)
    elif kind == "boolean":
        a, b, c = (zipf_pick(rng, vocab) for _ in range(3))
        r["query"] = f"{a} OR {b} NOT {c}" if c not in (a, b) else f"{a} OR {b}"
    elif kind in ("semantic", "hybrid", "probe_hybrid"):
        r["query"] = " ".join(zipf_pick(rng, vocab) for _ in range(QUERY_TERMS))
    elif kind == "bm25":
        r["terms"] = sorted({zipf_pick(rng, vocab) for _ in range(QUERY_TERMS)})
    elif kind == "probe_phrase":
        i = int(zipf_pick(rng, np.arange(len(texts)), s=1.05))
        words = [w for w in texts[i].split() if len(w) >= 3 and w not in STOPWORDS]
        j = int(rng.integers(0, max(1, len(words) - 1)))
        r["phrase"] = words[j:j + 2] if len(words) >= 2 else [zipf_pick(rng, vocab)]
    elif kind == "near_dups":
        pool = family_ids if len(family_ids) else ids
        r["target"] = int(zipf_pick(rng, pool, s=1.05))
    return r


def schedule(rng, corpus, n):
    """n requests in blocks of one of each kind (shuffled per block), so
    every run sees the same kind mix; parameters are Zipf-skewed, so some
    requests repeat."""
    out = []
    while len(out) < n:
        out += [request(rng, str(kind), corpus) for kind in rng.permutation(REQUEST_KINDS)]
    return out[:n]


def gen_analyst(rng, d, sz):
    ids, texts = write_corpus(rng, f"{d}/corpus", sz["analyst_docs"], sz["analyst_events"],
                              sz["analyst_users"])
    # near_dups targets with a likely near-duplicate: docs sharing a prefix
    pref = {}
    for j, t in enumerate(texts):
        pref.setdefault(t[:60], []).append(int(ids[j]))
    fam = np.array(sorted(x for v in pref.values() if len(v) > 1 for x in v), dtype=np.int64)
    corpus = {"ids": ids, "texts": texts, "fam": fam, "vocab": corpus_vocab(texts)}
    write_corpus(rng, f"{d}/warm", sz["warm_docs"], sz["warm_events"], 30)
    with open(f"{d}/requests.jsonl", "w") as f:
        for r in schedule(rng, corpus, sz["requests"]):
            f.write(json.dumps(r, sort_keys=True) + "\n")


# --- raw exports ------------------------------------------------------------

def sentence(rng, lo, hi):
    w = tokens(rng, int(rng.integers(lo, hi + 1)))
    return " ".join(w).capitalize() + "."


def text_block(rng, min_sentences=1):
    s = " ".join(sentence(rng, 5, 12) for _ in range(int(rng.integers(min_sentences, 5))))
    if rng.random() < 0.08:
        s += "\n```python\nprint('hello')\n```\n" + sentence(rng, 6, 6)
    return s


class MessageTexts:
    """Message texts of one export pair: fresh text blocks with planted
    near-duplicate families (a root block copied with `edit_rate` word
    edits; heavy-tailed sizes, one hot family of `hot_share` of the
    messages) and byte-identical copies, mixed in at random positions."""

    def __init__(self, rng, n_expected, near_share=0.30, exact_share=0.06,
                 hot_share=0.08, edit_rate=0.03):
        self.rng = rng
        planted = []
        for size in family_sizes(rng, int(n_expected * near_share),
                                 max(4, int(n_expected * hot_share))):
            root = text_block(rng, min_sentences=3)
            planted.append(root)
            for _ in range(size - 1):
                words = root.split(" ")
                for i in np.flatnonzero(rng.random(len(words)) < edit_rate):
                    words[i] = str(tokens(rng, 1)[0])
                planted.append(" ".join(words))
        for _ in range(int(n_expected * exact_share)):
            t = text_block(rng)
            planted += [t, t]
        self.planted = [planted[i] for i in rng.permutation(len(planted))]
        self.share = len(self.planted) / n_expected

    def next(self):
        if self.planted and self.rng.random() < self.share:
            return self.planted.pop()
        return text_block(self.rng)


def iso(epoch):
    return datetime.datetime.fromtimestamp(epoch, datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def sizes(rng, n, lo, mean):
    """n conversation sizes of at least `lo` summing to exactly n * mean, so
    every seed yields the same number of messages."""
    return lo + rng.multinomial(n * (mean - lo), np.full(n, 1.0 / n))


def gen_claude(rng, n, tag, texts):
    convs = []
    base = EPOCH_2024 + int(rng.integers(0, 86400))
    n_msgs = sizes(rng, n, 6, 10)
    for i in range(n):
        t0 = base + i * 3600
        use_iso = i % 2 == 0
        ts = (lambda e: iso(e)) if use_iso else (lambda e: str(e))
        msgs = []
        for j in range(int(n_msgs[i])):
            msgs.append({
                "uuid": f"{tag}m-{i}-{j}",
                "sender": "human" if j % 2 == 0 else "assistant",
                "text": None if (i % 7 == 0 and j == 1) else texts.next(),
                "created_at": ts(t0 + j * 30),
            })
        convs.append({
            "uuid": f"{tag}c-{i}",
            "name": f"Conversation {i}: {sentence(rng, 3, 3)[:-1]}",
            "created_at": ts(t0),
            "updated_at": ts(t0 + 1800),
            "account": {"uuid": f"acct-{i % 9}"},
            "chat_messages": msgs,
        })
    for i in range(0, n, 60):  # duplicated entries: the load must dedup them
        convs.append(convs[i])
    return convs


def gen_chatgpt(rng, n, tag, texts):
    convs = []
    base = float(EPOCH_2024 + 31 * 86400 + int(rng.integers(0, 86400)))
    n_nodes_of = sizes(rng, n, 8, 12)
    for i in range(n):
        t0 = base + i * 7200
        # node ids are unique across the export, as in real exports (the
        # normalized messages table is keyed by them)
        node = (lambda k: f"{tag}g-{i}-{k}")
        mapping = {node("root"): {"parent": None, "children": [node("n0")], "message": None}}
        n_nodes = int(n_nodes_of[i])
        prev = node("root")
        for j in range(n_nodes):
            nid = node(f"n{j}")
            children = [node(f"n{j + 1}")] if j + 1 < n_nodes else []
            if j % 5 == 4:  # dead side branch: BFS must still order by level
                bid = node(f"b{j}")
                children.append(bid)
                mapping[bid] = {
                    "parent": nid, "children": [],
                    "message": {
                        "author": {"role": "assistant"},
                        "content": {"parts": [f"branch take {j}: " + sentence(rng, 8, 8)]},
                        "create_time": t0 + j * 60 + 30.5,
                        "metadata": {"model_slug": "gpt-4o"},
                    },
                }
            parts = [] if (i % 11 == 0 and j == 2) else [texts.next()]
            slug = None if j % 3 == 0 else ("gpt-4" if j % 3 == 1 else "gpt-4o")
            mapping[nid] = {
                "parent": prev, "children": children,
                "message": {
                    "author": {"role": "user" if j % 2 == 0 else "assistant"},
                    "content": {"parts": parts},
                    "create_time": t0 + j * 60.0,
                    "metadata": {"model_slug": slug},
                },
            }
            prev = nid
        convs.append({
            "id": f"{tag}g-{i}",
            "title": f"Chat {i}: {sentence(rng, 3, 3)[:-1]}",
            "create_time": t0,
            "update_time": t0 + n_nodes * 60.0,
            "mapping": mapping,
        })
    return convs


def write_exports(rng, d, n_claude, n_chatgpt, tag):
    os.makedirs(d, exist_ok=True)
    texts = MessageTexts(rng, n_claude * 10 + n_chatgpt * 12)
    c, g = gen_claude(rng, n_claude, tag, texts), gen_chatgpt(rng, n_chatgpt, tag, texts)
    with open(f"{d}/claude_export.json", "w") as f:
        json.dump(c, f)
    with open(f"{d}/chatgpt_export.json", "w") as f:
        json.dump(g, f)


def gen_export(rng, d, sz):
    write_exports(rng, f"{d}/export", sz["export_claude"], sz["export_chatgpt"], "x")
    write_exports(rng, f"{d}/warm", 6, 4, "w")


def generate(seed, out, workloads=WORKLOADS, scale="full"):
    sz = SIZES[scale]
    for w in workloads:
        # one stream per workload, so a workload's inputs do not depend on
        # which other workloads were generated alongside it
        rng = np.random.default_rng([seed, WORKLOADS.index(w)])
        {"analyst_fit": gen_analyst, "export_pipeline": gen_export}[w](rng, f"{out}/{w}", sz)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--scale", default="full", choices=sorted(SIZES))
    a = ap.parse_args(argv)
    generate(a.seed, a.out, a.workload or WORKLOADS, a.scale)


if __name__ == "__main__":
    sys.exit(main())
