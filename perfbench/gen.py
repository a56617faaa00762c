"""Seeded input generation for the benchmark workloads.

Everything is derived from one integer seed, so the same seed gives
byte-identical inputs. The engine only ever sees the files written here.

* ``tweets_csv`` — a Sentiment140-shaped, headerless labeled CSV
  (``polarity,id,user,text``). Polarity words come from the shipped
  ``lexicon.csv``, so the label is learnable; the text carries the noise the
  cleaning chain exists for (RT markers, @mentions, URLs, #tags, emoticons,
  emoji, HTML entities, elongations) and a fixed small share of null and
  empty texts.
* ``catalog_tables`` — the ten catalog tables with the schemas and value
  domains of the TPC-H-like test tables (``region`` … ``embeddings``),
  scaled by ``sf`` (sf=0.1 gives 600,000 lineitem rows) and written in a
  seeded row order.
"""

from __future__ import annotations

import csv
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_DIR = os.path.join("spark_sentiment_spark", "data")

FILLERS = (
    "just got home from the game and then we went to a place near work "
    "today tonight morning week weekend phone car bus train coffee lunch "
    "dinner movie music song show team city house room school class office "
    "friend mom dad sister brother dog cat weather rain sun snow time day "
    "night year people everyone someone something thing stuff way back "
    "still really now again maybe think know going want need see look "
    "watch read call text tell said says new old first last next big little"
).split()
EMOTICONS = {4: (":)", ":-)", ":D", "<3", ";)"), 0: (":(", ":-(", ":'(", "D:")}
CONTRACTIONS = ("can't", "don't", "won't", "i'm", "it's", "didn't")
POLAR_WORDS = 150   # per polarity: few enough to recur, so labels are learnt


def _lexicon(root: str) -> tuple[list[str], list[str]]:
    """A fixed sample of positive and negative lexicon words (the same for
    every seed, so seeds vary the corpus, not its vocabulary)."""
    pos, neg = [], []
    with open(os.path.join(root, DATA_DIR, "lexicon.csv"),
              newline="", encoding="utf-8") as f:
        for row in csv.DictReader(f):
            word, score = row["word"], float(row["score"])
            if word.isalpha() and len(word) > 3:
                (pos if score > 0 else neg if score < 0 else []).append(word)
    pick = random.Random(0)
    return (pick.sample(sorted(set(pos)), POLAR_WORDS),
            pick.sample(sorted(set(neg)), POLAR_WORDS))


def _emoji(root: str) -> list[str]:
    with open(os.path.join(root, DATA_DIR, "emoji_map.csv"),
              newline="", encoding="utf-8") as f:
        return sorted({row["token"] for row in csv.DictReader(f)
                       if "," not in row["token"] and '"' not in row["token"]})


def _tweet(rng: random.Random, label: int, pos: list, neg: list,
           emoji: list) -> str:
    own, other = (pos, neg) if label == 4 else (neg, pos)
    words = []
    for _ in range(rng.randint(6, 20)):
        r = rng.random()
        if r < 0.30:
            words.append(rng.choice(own))
        elif r < 0.36:
            words.append(rng.choice(other))
        elif r < 0.40:
            words.append(rng.choice(CONTRACTIONS))
        else:
            words.append(rng.choice(FILLERS))
    if rng.random() < 0.10:
        i = rng.randrange(len(words))
        words[i] = words[i] + words[i][-1] * rng.randint(2, 5)
    if rng.random() < 0.25:
        words.insert(rng.randrange(len(words) + 1),
                     f"@user{rng.randrange(5000)}")
    if rng.random() < 0.20:
        words.append("#" + rng.choice(own if rng.random() < 0.7 else FILLERS))
    if rng.random() < 0.15:
        words.append(f"http://t.co/{rng.getrandbits(32):08x}")
    if rng.random() < 0.25:
        side = label if rng.random() < 0.8 else 4 - label
        words.append(rng.choice(EMOTICONS[side]))
    if rng.random() < 0.10:
        words.append(rng.choice(emoji))
    if rng.random() < 0.05:
        words.insert(rng.randrange(len(words) + 1), "&amp;")
    text = " ".join(words)
    if rng.random() < 0.15:
        text = f"RT @user{rng.randrange(5000)}: {text}"
    return text


NULL_SHARE = 0.02    # of tweets with a null text
EMPTY_SHARE = 0.01   # of tweets with a quoted empty text


def tweets_csv(root: str, path: str, n_rows: int, seed: int) -> dict:
    """Write the labeled tweet corpus; return its row counts, which depend
    on ``n_rows`` alone (the seed picks which rows are null or empty).

    Texts never contain the CSV delimiter or the quote character, so the
    engine's dialect sniffing sees a clean comma-separated, quoted file. The
    first two rows are always plain tweets (sniffing reads them)."""
    rng = random.Random(seed)
    pos, neg = _lexicon(root)
    emoji = _emoji(root)
    n_null, n_empty = round(n_rows * NULL_SHARE), round(n_rows * EMPTY_SHARE)
    special = rng.sample(range(2, n_rows), n_null + n_empty)
    nulls, empties = set(special[:n_null]), set(special[n_null:])
    with open(path, "w", encoding="utf-8", newline="") as f:
        for i in range(n_rows):
            label = 4 if rng.random() < 0.5 else 0
            user = f"user{rng.randrange(200)}"
            if i in nulls:
                f.write(f"{label},{i},{user},\n")
            elif i in empties:
                f.write(f'{label},{i},{user},""\n')
            else:
                text = _tweet(rng, label, pos, neg, emoji)
                f.write(f'{label},{i},{user},"{text}"\n')
    return {"rows": n_rows, "null_text": n_null, "empty_text": n_empty}


# --- catalog tables ---------------------------------------------------------

_COLORS = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
_NOUNS = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
_DOC_WORDS = ("join a value fast column sort scan small customer merge hash "
              "line spark part batch slow group row filter query key big "
              "window table stream order data vector agg the").split()


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    picks = rng.integers(0, len(values), n)
    return pa.array(np.asarray(values, dtype=object)[picks], pa.string())


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n).astype("datetime64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float,
           n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 150)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 200)
    n_ord = max(int(1_500_000 * sf), 1500)
    n_line = 4 * n_ord
    n_users = max(int(15_000 * sf), 15)
    n_ev = max(int(1_000_000 * sf), 1000)
    n_docs = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    i64, i32 = pa.int64(), pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _choice(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"), n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"), n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(start + rng.integers(0, span_us, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _choice(rng, ("click", "error", "purchase", "signup",
                                    "view"), n_ev),
        # log-normal around a median of ~15, like the test tables
        "value": np.round(
            np.exp(rng.normal(2.685, 1.565, n_ev)).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.asarray(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         rng.integers(10, 101))])
             for _ in range(n_docs)]
    # a few exact-duplicate pairs, marked with a trailing "dup" word
    pairs = rng.choice(n_docs, size=max(n_docs // 600, 1) * 2, replace=False)
    for a, b in pairs.reshape(-1, 2):
        texts[a] += " dup"
        texts[b] = texts[a]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": _choice(rng, ("en", "en", "en", "de", "es", "fr", "zh"),
                        n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], i64)})
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return t


def catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten tables as ``<out_dir>/<table>.parquet`` in a seeded row
    order; return each table's row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in _tables(sf, rng).items():
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
