"""Seeded input generators for the benchmark.

Two input sets, both pure functions of the seed:

* ``posts``: a Telegram-shaped posts corpus for the reference keyword
  pipeline (Persian and English text with ZWNJ forms, a 5-industry taxonomy
  of 40 keywords including regex-special characters, noise phrases,
  blacklisted channels, Zipf-skewed channels and views, timestamps over 365
  days), plus the analysis config the engine and the DuckDB oracle share.
* ``catalog``: the four tables the measured catalog queries read
  (``orders``, ``lineitem``, ``documents``, ``embeddings``), with the
  column types and sf0.01 row counts of the engine's test data.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZWNJ = "‌"

# industry -> keyword literals; the English ones carry regex-special
# characters so both engines must escape them to match literally
TAXONOMY = [
    ["Automotive", ["خودرو", "پژو", "سمند", "لاستیک", "car", "bmw", "4x4", "auto-parts"]],
    ["Tech", ["برنامه" + ZWNJ + "نویسی", "نرم" + ZWNJ + "افزار", "لپ" + ZWNJ + "تاپ", "گوشی",
              "c++", "node.js", "(api)", "ai*"]],
    ["Food", ["رستوران", "پیتزا", "کافه", "قهوه", "pizza", "coffee", "tea|cafe", "food$"]],
    ["Finance", ["بورس", "سهام", "دلار", "طلا", "crypto", "bitcoin", "usd/irr", "[fx]"]],
    ["Fashion", ["لباس", "کفش", "مانتو", "کیف", "dress", "shoes", "50%off", "^style"]],
]
NOISE_PATTERNS = ["فوتبال", "پیش" + ZWNJ + "بینی\\s+بازی", "casino", "free\\s+followers"]
NOISE_PHRASES = ["فوتبال", "پیش" + ZWNJ + "بینی بازی", "casino", "free followers"]
BLACKLIST = ["AdsHub", "spam_channel", "Promo24"]
STOPWORDS = ["و", "در", "به", "از", "که", "این", "را", "با", "برای", "the", "and", "for", "with"]
LEMMAS = {"کتاب" + ZWNJ + "ها": "کتاب", "رفتند": "رفت#رو"}

# filler vocabulary: ZWNJ forms, Arabic-codepoint variants (ي ك ة) and
# diacritics for the normalizer, plus the token classes the strict filters
# drop (digits, web ids, long ASCII words, emoji)
PERSIAN_WORDS = [
    "می" + ZWNJ + "خواهم", "کتاب" + ZWNJ + "ها", "خانه", "بازار", "قیمت", "امروز",
    "جدید", "خرید", "فروش", "ارزان", "تخفیف", "کانال", "عضویت", "سلام", "دوستان", "بهترین",
    "مرغوب", "ارسال", "رایگان", "تهران", "شیراز", "رفتند", "كار", "يك", "مدرسة", "عَالی",
    "خوب", "هفته", "سال", "و", "در", "به", "از", "که", "این", "را", "با", "برای",
]
ENGLISH_WORDS = [
    "sale", "new", "price", "best", "today", "offer", "free", "shipping", "quality",
    "channel", "join", "click", "admin", "the", "and", "for", "with", "www.shop.ir",
    "@seller", "2025", "big", "deal", "international", "🔥",
]

# seed-independent shapes (the generator tests pin the realised shares)
KEYWORD_SHARE = 0.38
NOISE_SHARE = 0.06
BLACKLIST_SHARE = 0.06
NULL_SHARE = 0.01
N_CHANNELS = 300
START_US = 1735689600 * 1_000_000  # 2025-01-01T00:00:00
DAY_US = 86400 * 1_000_000


def analysis_config():
    """Config shared by the engine run and the oracle SQL."""
    return {
        "taxonomy": TAXONOMY,
        "noise_patterns": NOISE_PATTERNS,
        "blacklist": BLACKLIST,
        "stopwords": STOPWORDS,
        "lemmas": LEMMAS,
    }


def _zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def posts_table(seed, n_posts):
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(PERSIAN_WORDS * 2 + ENGLISH_WORDS, dtype=object)
    keywords = [(ind, kw) for ind, kws in TAXONOMY for kw in kws]
    channels = [f"chan_{i:03d}" for i in range(N_CHANNELS)]
    chan_w = _zipf_weights(N_CHANNELS, 1.1)
    texts, chans = [], []
    n_words = rng.integers(6, 40, size=n_posts)
    has_kw = rng.random(n_posts) < KEYWORD_SHARE
    two_kw = rng.random(n_posts) < 0.25
    has_noise = rng.random(n_posts) < NOISE_SHARE
    is_black = rng.random(n_posts) < BLACKLIST_SHARE
    is_null = rng.random(n_posts) < NULL_SHARE
    chan_idx = rng.choice(N_CHANNELS, size=n_posts, p=chan_w)
    for i in range(n_posts):
        words = list(rng.choice(vocab, size=n_words[i]))
        if has_kw[i]:
            for _ in range(2 if two_kw[i] else 1):
                words.insert(int(rng.integers(0, len(words) + 1)),
                             keywords[int(rng.integers(0, len(keywords)))][1])
        if has_noise[i]:
            words.insert(int(rng.integers(0, len(words) + 1)),
                         NOISE_PHRASES[int(rng.integers(0, len(NOISE_PHRASES)))])
        texts.append(None if is_null[i] else " ".join(words))
        if is_black[i]:
            name = BLACKLIST[int(rng.integers(0, len(BLACKLIST)))]
            # mixed case: the blacklist compare is case-insensitive
            chans.append([name, name.lower(), name.upper()][int(rng.integers(0, 3))])
        else:
            chans.append(channels[chan_idx[i]])
    # Pareto-tailed views with many ties at small values
    views = np.floor(rng.pareto(1.3, size=n_posts) * 200).astype(np.int64)
    ts = START_US + rng.integers(0, 365 * DAY_US, size=n_posts)
    return pa.table({
        "post_id": pa.array(np.arange(n_posts, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "channel_username": pa.array(chans, type=pa.string()),
        "views": pa.array(views),
        "full_date": pa.array(ts, type=pa.timestamp("us")),
    })


DOC_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
             "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
             "value", "vector", "window"]


def documents_table(rng, n_docs=500):
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB, size=int(rng.integers(10, 101)))))
    langs = rng.choice(["en", "zh", "de", "fr", "es"], size=n_docs,
                       p=[0.42, 0.15, 0.14, 0.14, 0.15])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(list(langs), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n_vecs=500, dim=64, n_labels=10):
    centers = rng.normal(size=(n_labels, dim))
    labels = rng.integers(0, n_labels, size=n_vecs)
    v = centers[labels] * 0.5 + rng.normal(size=(n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def orders_lineitem_tables(rng, n_orders=15000, n_lines=60000):
    day0 = np.datetime64("1995-01-01", "us")
    odays = rng.integers(0, 2404, size=n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 1500, size=n_orders)),
        "o_orderstatus": pa.array(list(rng.choice(["F", "O", "P"], size=n_orders)), type=pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_orders), 2)),
        "o_orderdate": pa.array(day0 + odays.astype("timedelta64[D]"), type=pa.timestamp("us")),
        "o_orderpriority": pa.array(list(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_orders)),
            type=pa.string()),
    })
    okey = rng.integers(0, n_orders, size=n_lines)
    qty = rng.integers(1, 51, size=n_lines).astype(np.float64)
    flags = rng.choice(["A", "N", "R"], size=n_lines)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n_lines)),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n_lines)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_lines).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, size=n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_lines) / 100.0),
        "l_returnflag": pa.array(list(flags), type=pa.string()),
        "l_linestatus": pa.array(list(rng.choice(["F", "O"], size=n_lines)), type=pa.string()),
        "l_shipdate": pa.array(day0 + (odays[okey] + rng.integers(1, 122, size=n_lines))
                               .astype("timedelta64[D]"), type=pa.timestamp("us")),
    })
    return orders, lineitem


def write_config(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "config.json"), "w", encoding="utf-8") as f:
        json.dump(analysis_config(), f, ensure_ascii=False)


def write_posts(out_dir, seed, n_posts):
    write_config(out_dir)
    pq.write_table(posts_table(seed, n_posts), os.path.join(out_dir, "posts.parquet"))


def write_catalog(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    orders, lineitem = orders_lineitem_tables(rng)
    tables = {"orders": orders, "lineitem": lineitem,
              "documents": documents_table(rng), "embeddings": embeddings_table(rng)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def table_digest(table):
    """Content digest of a generated table (row order included)."""
    h = hashlib.sha256()
    for batch in table.to_batches():
        for col in batch.columns:
            h.update(repr(col.to_pylist()).encode("utf-8"))
    return h.hexdigest()

