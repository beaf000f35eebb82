"""Seeded workload generator for the graft benchmark.

Everything the program reads is written here, from the seed alone: the same
seed gives byte-identical inputs. Sizes are chosen for a 4-core box driven by
one client process. The constants below name their sources.

serve inputs
  corpus.parquet   Zipfian corpus (doc_id, doc_title, text)
  requests.tsv     seeded request stream: stored BM25 searches of 1-4 terms
                   (head, tail, mixed, OOV) and phrases cut from real docs
  ingest/*.txt     one-doc ingest files; ids never collide with the corpus,
                   each carries one token no corpus doc contains

curate inputs
  crawl.jsonl      raw crawl with planted exact duplicates, near-duplicates,
                   repetitive spam, short docs, four marker languages and
                   undetermined-language docs
"""
import json
import math
import os
import random
from bisect import bisect_left
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes and shapes (4 cores, one client) --------------------------------
# Each constant names where it comes from: a public source, the repo's own
# sf0.1 `documents` table (5,000 docs, 270,704 tokens, 10-100 tokens a doc
# in near-equal shares, languages en 41%, zh 15%, es 15%, fr 15%, de 14%),
# or, where neither gives a value, a design choice and its reason.

# serve corpus. The prepare stage samples as many docs as the sf0.1
# documents table holds, the scale the repo's own bench runs at; the
# reference's 1,000-doc sample is too small to load the batch stages.
SERVE_DOCS = 6000          # corpus rows; design choice: the sample is 5/6 of it
SERVE_SAMPLE = 5000        # sf0.1 documents table: 5,000 docs
DOC_TOKENS = (10, 100)     # sf0.1 documents table: uniform over 10-100 tokens
# Zipf's law, cf_i proportional to 1/i (Manning, Raghavan & Schuetze,
# Introduction to Information Retrieval, 2008, section 5.1.2).
ZIPF_S = 1.0
# Heaps' law M = k * T^b with the RCV1 fit k = 44, b = 0.49 (same book,
# section 5.1.1) predicts about 22,000 distinct terms for the 330,000
# tokens of SERVE_DOCS docs; a Zipf draw over 25,000 ranks gives 22,000-23,000.
VOCAB = 25000
# Design choice: the 60 most frequent ranks are head terms. With ZIPF_S = 1
# and DOC_TOKENS they occur in about 8% to 96% of docs, the long posting
# lists; tail terms occur in at most 3 docs.
HEAD_RANKS = 60
TAIL_MAX_DF = 3
REQUESTS = 400             # length of the request stream; runs never reach its end
INGEST_DOCS = 4
INGEST_ID_BASE = 10_000_000

# Request schedule, cycled: (class, terms). Searches have 1-4 terms with a
# mean of 2.25; web query logs report means of 2.21 terms (Excite: Jansen,
# Spink & Saracevic, Information Processing & Management 36(2), 2000) and
# 2.35 terms (AltaVista: Silverstein, Henzinger, Marais & Moricz, SIGIR
# Forum 33(1), 1999). The class shares are a design choice, not a measured
# mix: head, tail and mixed queries span posting lists from nearly every doc
# down to one, one search in eight is OOV so the empty-result path runs in
# every run, and two requests in ten are 2-3 token phrases so the phrase path
# gets samples in a short run. Every seed sends the same classes in the same
# order, so a short loop compares like with like; the terms are seeded.
SCHEDULE = [("head", 2), ("tail", 1), ("phrase", 2), ("mixed", 3), ("head", 1),
            ("tail", 3), ("oov", 2), ("mixed", 2), ("phrase", 3), ("head", 4)]

# curate crawl. Design choice for the size: about 1,350 docs, which keeps
# one funnel near 5 s on a 4-core box, so a run holds several funnels.
CURATE_MARKED = 800        # well-formed docs with marker words of one language
# Language shares of the marked docs follow the sf0.1 documents table
# (en 2,059, es 744, fr 742, de 702); its zh docs (753) have no marker
# words, so they become the undetermined docs, in the same proportion.
LANG_SHARES = {"en": 2059, "es": 744, "fr": 742, "de": 702}
UNDETERMINED_PER_MARKED = 753 / 4247
# Design choice, no public rate is used: about one crawl doc in twenty is
# short (under the 5-token minimum) and one in twenty repetitive spam, so
# the quality stage drops a measurable share; one in ten is an exact copy
# and one in ten a near copy, so exact dedup and the near-duplicate cluster
# loop both have work. Base docs have 20-80 tokens so that a near copy's few
# substitutions keep its 3-shingle Jaccard above the funnel's 0.5.
CURATE_SHORT = 60
CURATE_SPAM = 70
CURATE_EXACT = 140
CURATE_NEAR = 140
CURATE_BASE_TOKENS = (20, 80)
CURATE_ORDER_SEED = 20261  # the crawl's id order, the same for every seed

LANG_MARKERS = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "et", "est"],
}

_SYL = ["ba", "ko", "ri", "tu", "me", "sa", "no", "vi", "pe", "lu", "da",
        "fo", "gi", "zu", "ha", "ny", "qe", "wo", "xi", "jo", "ce", "mu"]


def word(rank):
    """Deterministic pseudo-word for a vocabulary rank; never a marker
    word, never a collision (bijective base-22 spelling plus a length tag)."""
    syl = []
    r = rank
    while True:
        syl.append(_SYL[r % len(_SYL)])
        r //= len(_SYL)
        if r == 0:
            break
    return "".join(syl) + ("k" if len(syl) % 2 else "")


class Zipf:
    def __init__(self, n, s):
        w = [1.0 / math.pow(r, s) for r in range(1, n + 1)]
        tot = sum(w)
        acc = 0.0
        self.cdf = []
        for x in w:
            acc += x / tot
            self.cdf.append(acc)

    def draw(self, rnd):
        i = bisect_left(self.cdf, rnd.random())
        return min(i, len(self.cdf) - 1)


def _doc_tokens(rnd, zipf, lo, hi):
    return [word(zipf.draw(rnd)) for _ in range(rnd.randint(lo, hi))]


def _df(docs_tokens):
    df = {}
    for toks in docs_tokens:
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    return df


def _df_histogram(terms, df):
    edges = [(0, 0), (1, 1), (2, 9), (10, 99), (100, 999), (1000, 10**9)]
    hist = {}
    for lo, hi in edges:
        key = f"{lo}" if lo == hi else (f"{lo}+" if hi == 10**9 else f"{lo}-{hi}")
        hist[key] = sum(1 for t in terms if lo <= df.get(t, 0) <= hi)
    return hist


def make_serve(seed, out):
    rnd = random.Random(seed)
    zipf = Zipf(VOCAB, ZIPF_S)
    docs = []
    for i in range(SERVE_DOCS):
        docs.append(_doc_tokens(rnd, zipf, *DOC_TOKENS))
    ids = list(range(SERVE_DOCS))
    titles = [f"Doc {i} {docs[i][0]} {docs[i][-1]}" for i in ids]
    texts = [" ".join(t) for t in docs]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "doc_title": pa.array(titles, pa.string()),
        "text": pa.array(texts, pa.string())}), os.path.join(out, "corpus.parquet"))

    df = _df(docs)
    head = [word(r) for r in range(HEAD_RANKS)]
    tail = sorted({t for t in df if t not in set(head)
                   and df[t] <= TAIL_MAX_DF}, key=lambda t: (df[t], t))
    rnd.shuffle(tail)

    def oov():
        return "zq" + "".join(rnd.choice("xyz") for _ in range(6)) + str(rnd.randint(0, 99))

    requests = []
    for k in range(REQUESTS):
        cls, n = SCHEDULE[k % len(SCHEDULE)]
        if cls == "phrase":
            # n consecutive tokens cut from a real doc
            src = rnd.randrange(SERVE_DOCS)
            toks = docs[src]
            st = rnd.randrange(0, len(toks) - n)
            requests.append(("phrase", "phrase", " ".join(toks[st:st + n]), src))
            continue
        if cls == "head":
            terms = rnd.sample(head, n)
        elif cls == "tail":
            terms = [rnd.choice(tail) for _ in range(n)]
        elif cls == "mixed":
            terms = [rnd.choice(head)] + [rnd.choice(tail) for _ in range(n - 1)]
        else:
            terms = [oov() for _ in range(n)]
        requests.append(("search", cls, " ".join(terms), -1))
    with open(os.path.join(out, "requests.tsv"), "w") as f:
        for kind, cls, text, src in requests:
            f.write(f"{kind}\t{cls}\t{text}\t{src}\n")

    ingest_dir = os.path.join(out, "ingest")
    os.makedirs(ingest_dir, exist_ok=True)
    ingests = []
    for j in range(INGEST_DOCS):
        doc_id = INGEST_ID_BASE + seed % 1000 * 100 + j
        token = f"uniq{seed}x{j}q"
        body = _doc_tokens(rnd, zipf, 40, 120)
        body.insert(rnd.randrange(len(body)), token)
        name = f"note_{seed}_{j}.txt"
        # the reference's files carry line breaks; ingest flattens them
        lines = [" ".join(body[i:i + 12]) for i in range(0, len(body), 12)]
        with open(os.path.join(ingest_dir, name), "w") as f:
            f.write("\n".join(lines) + "\n")
        ingests.append({"file": name, "doc_id": doc_id, "token": token})
    with open(os.path.join(out, "ingest.tsv"), "w") as f:
        for g in ingests:
            f.write(f"{g['file']}\t{g['doc_id']}\t{g['token']}\n")

    query_terms = set()
    for kind, cls, text, src in requests:
        if kind == "search":
            query_terms.update(text.split())
    counts = Counter(cls for _, cls, _, _ in requests)
    return {
        "docs": SERVE_DOCS, "sample_docs": SERVE_SAMPLE,
        "tokens": sum(len(t) for t in docs),
        "text_bytes": sum(len(t.encode()) for t in texts),
        "vocabulary": len(df), "zipf_s": ZIPF_S,
        "request_stream": REQUESTS, "request_classes": dict(counts),
        "query_term_df_histogram": _df_histogram(query_terms, df),
        "ingest_docs": INGEST_DOCS,
        # the pipeline's reference query: two head terms
        "pipeline_query": f"{head[3]} {head[11]}",
    }


def make_curate(seed, out):
    rnd = random.Random(seed * 7919 + 1)
    zipf = Zipf(VOCAB, ZIPF_S)
    langs = sorted(LANG_MARKERS)
    rows = []
    planted = {"base": 0, "undetermined": 0, "short": 0, "spam": 0,
               "exact_dup": 0, "near_dup": 0}

    def add(text):
        rows.append({"doc_id": len(rows) + 1, "doc_title": f"crawl {len(rows) + 1}",
                     "text": text})

    # the marked docs' languages, in LANG_SHARES proportions; which doc gets
    # which language is seeded
    tot = sum(LANG_SHARES.values())
    counts = {lang: round(CURATE_MARKED * w / tot) for lang, w in LANG_SHARES.items()}
    counts["en"] += CURATE_MARKED - sum(counts.values())
    doc_langs = [lang for lang in langs for _ in range(counts[lang])]
    rnd.shuffle(doc_langs)
    bases = []
    for lang in doc_langs:
        toks = _doc_tokens(rnd, zipf, *CURATE_BASE_TOKENS)
        for _ in range(rnd.randint(2, 6)):
            toks.insert(rnd.randrange(len(toks) + 1), rnd.choice(LANG_MARKERS[lang]))
        bases.append(toks)
        add(" ".join(toks))
        planted["base"] += 1
    for i in range(round(CURATE_MARKED * UNDETERMINED_PER_MARKED)):
        add(" ".join(_doc_tokens(rnd, zipf, *CURATE_BASE_TOKENS)))
        planted["undetermined"] += 1
    for i in range(CURATE_SHORT):
        lang = rnd.choice(langs)
        add(" ".join([rnd.choice(LANG_MARKERS[lang])] + _doc_tokens(rnd, zipf, 1, 2)))
        planted["short"] += 1
    for i in range(CURATE_SPAM):
        lang = rnd.choice(langs)
        unit = [rnd.choice(LANG_MARKERS[lang])] + _doc_tokens(rnd, zipf, 3, 6)
        add(" ".join(unit * rnd.randint(6, 14)))
        planted["spam"] += 1
    # Which base each copy takes and where every doc lands in the id order
    # are fixed, not seeded: the duplicate clusters, and so the rounds of
    # the cluster loop, have the same shape for every seed; only the text
    # differs. Exact copies take bases 0, 5, 10, ...; near copies take
    # 1, 10, 11, 20, 21, ..., so most clusters of ten also hold an exact copy.
    for i in range(CURATE_EXACT):
        add(" ".join(bases[(5 * i) % CURATE_MARKED]))
        planted["exact_dup"] += 1
    for i in range(CURATE_NEAR):
        toks = list(bases[(5 * i + 1 + (i % 2) * 4) % CURATE_MARKED])
        # a few substitutions keep the 3-shingle Jaccard well above 0.5
        for _ in range(max(1, len(toks) // 40)):
            toks[rnd.randrange(len(toks))] = word(zipf.draw(rnd))
        add(" ".join(toks))
        planted["near_dup"] += 1
    order = list(range(len(rows)))
    random.Random(CURATE_ORDER_SEED).shuffle(order)
    with open(os.path.join(out, "crawl.jsonl"), "w") as f:
        for new_id, k in enumerate(order, start=1):
            r = dict(rows[k])
            r["doc_id"] = new_id
            r["doc_title"] = f"crawl {new_id}"
            f.write(json.dumps(r) + "\n")
    toks = [r["text"].split() for r in rows]
    return {"docs": len(rows), "tokens": sum(len(t) for t in toks),
            "text_bytes": sum(len(r["text"].encode()) for r in rows),
            "vocabulary": len(_df(toks)), "planted": planted}


def generate(workload, seed, out):
    os.makedirs(out, exist_ok=True)
    return {"serve": make_serve, "curate": make_curate}[workload](seed, out)
