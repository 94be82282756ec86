"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed and the shape parameters:
the same seed writes byte-identical files. Each generator also writes a
ledger (`ledger.json`) with the facts the output checks compare against.

Review-shaped JSON-lines carry the reference input's messiness:
  - a `review/text` header line (and one more mid-file) that stage 1 drops
    before parsing;
  - rows missing a field, or with it set to null, that stage 1 drops;
  - several reviews per `asin`;
  - reviews with no dictionary word, which survive stage 1 with an empty
    token list and become all-zero TF-IDF vectors.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = ["the", "a", "an", "and", "is", "of", "to", "in", "it", "this",
             "that", "was", "for", "on", "with", "as", "but", "be", "at", "so"]

# Real adjectives open the dictionary; pseudo-words fill it to size.
ADJECTIVES_SMALL = ["great", "good", "fast", "slow", "boring", "bad",
                    "wonderful", "small", "big", "nice", "cheap", "awful"]

_SYL = ["ba", "ke", "lo", "mi", "nu", "ra", "se", "ti", "vo", "zu", "pe",
        "da", "fi", "go", "hu", "ja", "wi", "xo", "yu", "co"]


def _pseudo_words(n, suffix, start):
    """n distinct lowercase words: a three-syllable stem plus `suffix`."""
    out = []
    i = start
    while len(out) < n:
        a, b, c = i % 20, (i // 20) % 20, (i // 400) % 20
        out.append(_SYL[a] + _SYL[b] + _SYL[c] + suffix)
        i += 1
    return out


def adjectives(n):
    return (ADJECTIVES_SMALL + _pseudo_words(max(0, n - len(ADJECTIVES_SMALL)), "ous", 7))[:n]


FILLER = _pseudo_words(3000, "ng", 0)


def _write_lines(path, words):
    with open(path, "w") as f:
        f.write("\n".join(words) + "\n")


def reviews(out_dir, seed, n_reviews, tok_lo, tok_hi, n_dict, topics, p_dict):
    """Review JSON-lines plus dictionary, stopword and ledger files.

    `topics` topics are planted: each review draws 80% of its dictionary
    words from its topic's block of the dictionary.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    dict_words = adjectives(n_dict)
    vocab = STOPWORDS + dict_words + FILLER
    n_stop, n_fill = len(STOPWORDS), len(FILLER)
    dict_base, fill_base = n_stop, n_stop + n_dict

    lens = rng.integers(tok_lo, tok_hi + 1, size=n_reviews)
    # ~3% of reviews carry no dictionary word at all
    no_dict = rng.random(n_reviews) < 0.03
    review_of = np.repeat(np.arange(n_reviews), lens)
    total = int(lens.sum())
    u = rng.random(total)
    is_stop = u < 0.25
    is_dict = (~is_stop) & (u < 0.25 + p_dict) & ~no_dict[review_of]
    zipf = 1.0 / np.arange(1, n_fill + 1) ** 1.05
    tok = fill_base + rng.choice(n_fill, size=total, p=zipf / zipf.sum())
    tok[is_stop] = rng.integers(0, n_stop, size=int(is_stop.sum()))
    n_dt = int(is_dict.sum())
    per = n_dict // topics
    topic_of = rng.integers(0, topics, size=n_reviews)
    on_topic = topic_of[review_of[is_dict]] * per + rng.integers(0, per, size=n_dt)
    anywhere = rng.integers(0, n_dict, size=n_dt)
    tok[is_dict] = dict_base + np.where(rng.random(n_dt) < 0.8, on_topic, anywhere)

    # rows missing a field (key absent or null) never reach the count
    broken = rng.random(n_reviews) < 0.02
    broken_field = rng.integers(0, 4, size=n_reviews)
    broken_null = rng.random(n_reviews) < 0.5
    n_asin = max(1, n_reviews // 5)
    asin_of = rng.integers(0, n_asin, size=n_reviews)
    capital = rng.random(total) < 0.05
    period = rng.random(total) < 0.06

    words = np.array(vocab, dtype=object)[tok]
    words[capital] = np.char.capitalize(words[capital].astype(str)).astype(object)
    words[period] = np.char.add(words[period].astype(str), ".").astype(object)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    fields = ("reviewerID", "asin", "reviewerName", "reviewText")
    path = os.path.join(out_dir, "reviews.jsonl")
    with open(path, "w") as f:
        f.write("review/userId\treview/profileName\treview/text\n")
        for i in range(n_reviews):
            if i == n_reviews // 2:
                f.write("review/userId\treview/profileName\treview/text\n")
            rec = {
                "reviewerID": "A%013d" % (i * 7919 % 10_000_000_000_000),
                "asin": "B%09d" % asin_of[i],
                "reviewerName": "reviewer %d" % (i % 997),
                "helpful": [int(i % 5), int(i % 7)],
                "reviewText": " ".join(words[bounds[i]:bounds[i + 1]]),
                "overall": float(1 + i % 5),
                "summary": "summary %d" % (i % 101),
                "unixReviewTime": 1_300_000_000 + i,
            }
            if broken[i]:
                name = fields[broken_field[i]]
                if broken_null[i]:
                    rec[name] = None
                else:
                    del rec[name]
            f.write(json.dumps(rec) + "\n")

    keep = ~broken
    has_dict = np.bincount(review_of[is_dict], minlength=n_reviews) > 0
    dict_pos = is_dict & keep[review_of]
    pairs = np.unique(review_of[dict_pos] * n_dict + (tok[dict_pos] - dict_base))
    df = np.bincount(pairs % n_dict, minlength=n_dict)
    ledger = {
        "n": int(keep.sum()),
        "df": {w: int(df[j]) for j, w in enumerate(dict_words)},
        "empty_after_filter": int((keep & ~has_dict).sum()),
        "raw_lines": n_reviews + 2,
    }
    _write_lines(os.path.join(out_dir, "dict.txt"), dict_words)
    _write_lines(os.path.join(out_dir, "stopwords.txt"), STOPWORDS)
    with open(os.path.join(out_dir, "ledger.json"), "w") as f:
        json.dump(ledger, f)
    return ledger


# The registry's document vocabulary: the queries' stopwords ("the", "a")
# and dictionary adjectives ("fast", "slow", "small", "big") among 28
# engine words, as in the tables the registry's oracle checks were
# written against.
DOC_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
             "value", "data", "small", "join", "filter", "big", "group", "hash",
             "customer", "sort", "order", "slow", "line", "part", "fast", "row",
             "the", "agg", "key", "query", "a", "scan", "batch"]


def registry_tables(out_dir, seed, n_docs, n_emb, n_cust, n_events):
    """documents, embeddings, customer and events parquet tables."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    lens = rng.integers(10, 101, size=n_docs)
    dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), size=lens[i])))
    langs = np.array(["en", "zh", "es", "fr", "de"])[
        rng.choice(5, size=n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))

    emb = rng.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32()),
    }), os.path.join(out_dir, "embeddings.parquet"))

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, size=n_cust)].tolist(), pa.string()),
    }), os.path.join(out_dir, "customer.parquet"))

    t0 = 1_704_067_200_000_000  # 2024-01-01 UTC, microseconds
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, size=n_events))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_events // 60), size=n_events), pa.int64()),
        "event_type": pa.array(types[rng.integers(0, 5, size=n_events)].tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2), pa.float64()),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, size=n_events)], pa.string()),
    }), os.path.join(out_dir, "events.parquet"))

    _write_lines(os.path.join(out_dir, "dict.txt"), [w for w in DOC_WORDS if w not in ("the", "a")])
    _write_lines(os.path.join(out_dir, "stopwords.txt"), ["the", "a"])
    ledger = {"n": n_docs}
    with open(os.path.join(out_dir, "ledger.json"), "w") as f:
        json.dump(ledger, f)
    return ledger
