"""Output checks, run after the timed passes and outside their timing.

* Catalog ops: the parquet the op wrote is compared, order-insensitively and
  after rounding doubles to 9 places, with the query's DuckDB oracle twin
  (``oracle_sql()``) run on the same generated tables.
* ``analyze()`` methods: row counts and score domains on every row, and on a
  seeded sample of rows the engine's pure-Python reference scorers
  (``wordscore.compute_sentiment_py`` for word-score, the longest-sentence
  rule over ``nlp_model`` for our-nlp).
* ``save_wordlists``: the per-category word lists equal a Python recount of
  the rule (document frequency ≥ 5 within the category, words in more than
  two categories dropped) over the same cleaned texts.

Each check returns ``None`` when the output is right, else a one-line reason.
"""

from __future__ import annotations

import glob
import math
import os
import random
import re

import duckdb
import pyarrow.parquet as pq

#: the tweet CSV is headerless, so Spark names the polarity column _c0
LABEL_COL = "_c0"
SAMPLE_ROWS = 200


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    return v


def _sorted_rows(rows) -> list:
    return sorted((tuple(_norm(v) for v in r) for r in rows),
                  key=lambda r: tuple((v is None, str(v)) for v in r))


class CatalogOracle:
    """DuckDB views over the generated tables; oracle results are computed
    once per query and reused for every pass."""

    def __init__(self, tables_dir: str, table_names, temp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{temp_dir}'")
        for t in table_names:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{tables_dir}/{t}.parquet')")
        self._expected: dict[str, tuple[list, list]] = {}

    def check(self, name: str, sql: str, out_dir: str) -> str | None:
        if name not in self._expected:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            rows = [tuple(r[i] for i in order) for r in res.fetchall()]
            self._expected[name] = ([cols[i] for i in order],
                                    _sorted_rows(rows))
        cols, want = self._expected[name]
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no parquet output" if want else None
        table = pq.read_table(files)
        if sorted(table.column_names) != cols:
            return f"columns {sorted(table.column_names)} != oracle {cols}"
        got = _sorted_rows(zip(*(table.column(c).to_pylist() for c in cols)))
        if len(got) != len(want):
            return f"{len(got)} rows != oracle {len(want)}"
        for i, (a, b) in enumerate(zip(got, want)):
            if a != b:
                return f"sorted row {i}: {a} != oracle {b}"
        return None


# --- sentiment_tweets -------------------------------------------------------

def _py_clean(text: str) -> str:
    """``functions.text.clean_text_col`` in Python: lower + the same
    ordered regex chain (Java's default ASCII classes)."""
    from spark_sentiment_spark.functions.text import CLEANING_STEPS

    out = text.lower()
    for pat, repl in CLEANING_STEPS:
        out = re.sub(pat, repl, out, flags=re.ASCII)
    return out


def _read(out_dir: str, columns: list[str]) -> dict:
    return pq.read_table(sorted(glob.glob(os.path.join(out_dir, "*.parquet"))),
                         columns=columns).to_pydict()


def check_analyze(method: str, out_dir: str, expected_rows: int,
                  seed: int) -> str | None:
    from spark_sentiment_spark.analyze import CLEANED_COL, SCORE_COL

    t = _read(out_dir, [LABEL_COL, CLEANED_COL, SCORE_COL])
    scores, texts = t[SCORE_COL], t[CLEANED_COL]
    if len(scores) != expected_rows:
        return f"{len(scores)} rows != {expected_rows} non-null input texts"
    if any(s is None for s in scores):
        return "null score"
    sample = random.Random(seed).sample(range(len(scores)),
                                        min(SAMPLE_ROWS, len(scores)))
    if method == "word-score":
        from spark_sentiment_spark.operators.wordscore import (
            compute_sentiment_py)

        if not all(-1.0 <= s <= 1.0 for s in scores):
            return "word-score outside [-1, 1]"
        for i in sample:
            want = compute_sentiment_py(_py_clean(texts[i]))
            if abs(scores[i] - want) > 1e-9:
                return f"row {i}: {scores[i]} != reference {want}"
    elif method == "our-nlp":
        from spark_sentiment_spark.operators.nlp_model import (
            model_scorer_factory)
        from spark_sentiment_spark.operators.nlp_sentiment import (
            NEUTRAL, compute_sentiment)

        if not set(scores) <= set(range(5)):
            return f"our-nlp classes {sorted(set(scores))} outside 0..4"
        extract = model_scorer_factory()
        for i in sample:
            want = (compute_sentiment(texts[i], extract) if texts[i]
                    else NEUTRAL)
            if scores[i] != want:
                return f"row {i}: class {scores[i]} != reference {want}"
    return None


def expected_wordlists(rows, min_df: int = 5, overlap_limit: int = 2) -> dict:
    """Python recount of ``extract_wordlists`` over (label, cleaned text)."""
    df: dict = {}
    for label, text in rows:
        if text is None:
            continue
        for w in set(text.split(" ")):
            df[(label, w)] = df.get((label, w), 0) + 1
    vocab: dict = {}
    for (label, w), n in df.items():
        if n >= min_df:
            vocab.setdefault(label, set()).add(w)
    n_cats: dict = {}
    for words in vocab.values():
        for w in words:
            n_cats[w] = n_cats.get(w, 0) + 1
    return {label: {w for w in words if n_cats[w] <= overlap_limit}
            for label, words in vocab.items()}


def check_wordlists(out_dir: str, cleaned_dir: str) -> str | None:
    """``cleaned_dir`` is an analyze output holding (label, cleaned text)."""
    from spark_sentiment_spark.analyze import CLEANED_COL

    t = _read(cleaned_dir, [LABEL_COL, CLEANED_COL])
    expected = expected_wordlists(zip(t[LABEL_COL], t[CLEANED_COL]))
    got = {}
    for d in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, d)
        if os.path.isdir(path):
            words = set()
            for f in glob.glob(os.path.join(path, "part-*")):
                with open(f, encoding="utf-8") as fh:
                    words.update(line.rstrip("\n") for line in fh)
            got[d] = words
    want = {str(k): v for k, v in expected.items()}
    if sorted(got) != sorted(want):
        return f"categories {sorted(got)} != {sorted(want)}"
    for cat, words in want.items():
        if got[cat] != words:
            diff = sorted(got[cat] ^ words)[:5]
            return (f"category {cat}: {len(got[cat])} words != "
                    f"{len(words)} ({diff})")
    return None
