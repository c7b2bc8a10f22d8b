"""Property-based cross-engine fuzz of the text expression twins.

Domain: printable ASCII + whitespace — the regex subset (\\b, \\S, \\s,
char classes) where Java-regex and RE2-ish engines are specified identically.
Unicode word-boundary semantics differ per engine and the documents testdata
is ASCII; the twins' contract is the ASCII domain.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from flink_job_spark.functions.text import (
    bpe_token_count,
    bpe_token_count_duck,
    norm_text,
    norm_text_duck,
    quality_columns,
    quality_columns_duck,
    ws_token_count,
    ws_token_count_duck,
)

ascii_text = st.text(
    alphabet=string.ascii_letters + string.digits + string.punctuation + " \t\n",
    min_size=0, max_size=200,
)


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(ascii_text, min_size=1, max_size=30))
def test_text_twins_agree(spark, texts):
    import duckdb

    qcols = quality_columns("text")
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(
        norm_text("text").alias("norm"),
        ws_token_count("text").alias("ws"),
        bpe_token_count("text").alias("bpe"),
        qcols["n_chars"].alias("n_chars"),
        qcols["stopword_ratio"].alias("stop_r"),
        qcols["quality_score"].alias("q"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    qd = quality_columns_duck("text")
    duck = con.execute(
        f"SELECT {norm_text_duck('text')} AS norm, {ws_token_count_duck('text')} AS ws, "
        f"{bpe_token_count_duck('text')} AS bpe, {qd['n_chars']} AS n_chars, "
        f"{qd['stopword_ratio']} AS stop_r, {qd['quality_score']} AS q FROM t"
    ).fetchall()

    for i, (g, d) in enumerate(zip(got, duck)):
        assert g["norm"] == d[0], (texts[i], g["norm"], d[0])
        assert g["ws"] == d[1], (texts[i], "ws", g["ws"], d[1])
        assert g["bpe"] == d[2], (texts[i], "bpe", g["bpe"], d[2])
        assert g["n_chars"] == d[3]
        assert g["stop_r"] == d[4], (texts[i], "stop_r")
        assert g["q"] == d[5], (texts[i], "quality")


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(ascii_text, min_size=1, max_size=30))
def test_pii_regex_twins_agree(spark, texts):
    """PII patterns live in the Java-regex ∩ RE2 subset: counts AND the
    redacted text must be byte-identical across engines on arbitrary ASCII
    (including half-formed emails/IPs the generator produces by chance)."""
    import duckdb

    from pyspark.sql import functions as F

    from flink_job_spark.queries.text import EMAIL_RE, IP_RE, PHONE_RE

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select(
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("ne"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("np"),
        F.regexp_count(F.col("text"), F.lit(IP_RE)).alias("ni"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"),
                PHONE_RE, "[PHONE]"),
            IP_RE, "[IP]").alias("red"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    duck = con.execute(
        f"SELECT CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS INTEGER),"
        f" CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS INTEGER),"
        f" CAST(len(regexp_extract_all(text, '{IP_RE}')) AS INTEGER),"
        f" regexp_replace(regexp_replace(regexp_replace(text,"
        f" '{EMAIL_RE}', '[EMAIL]', 'g'), '{PHONE_RE}', '[PHONE]', 'g'),"
        f" '{IP_RE}', '[IP]', 'g') FROM t"
    ).fetchall()
    assert [(r["ne"], r["np"], r["ni"], r["red"]) for r in got] == \
           [tuple(r) for r in duck]


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(st.tuples(ascii_text, ascii_text), min_size=1, max_size=20))
def test_levenshtein_twins_agree(spark, pairs):
    """Spark and DuckDB levenshtein must agree on arbitrary ASCII pairs
    (unit-cost insert/delete/substitute in both)."""
    import duckdb

    from pyspark.sql import functions as F

    df = spark.createDataFrame(pairs, "a string, b string")
    got = [r["d"] for r in
           df.select(F.levenshtein("a", "b").alias("d")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    duck = [r[0] for r in con.execute("SELECT levenshtein(a, b) FROM t").fetchall()]
    assert got == duck


def test_bpe_pair_counts_match_pure_python(spark, sf_dir):
    """q_bpe_merges vs an independent pure-python pair counter over the same
    normalized corpus — two algorithms, same top table."""
    import collections
    import re as _re

    import duckdb as _duck

    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.text import BPE_TOPK

    rows = all_queries()["q_bpe_merges"].fn(spark, sf_dir).collect()

    con = _duck.connect()
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')").fetchall()]
    wf = collections.Counter()
    for t in texts:
        normed = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        for w in normed.split(" "):
            wf[w] += 1
    pairs = collections.Counter()
    for w, f in wf.items():
        for i in range(len(w) - 1):
            pairs[w[i:i + 2]] += f
    expect = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOPK]
    got = [(r["pair"], r["cnt"]) for r in sorted(rows, key=lambda r: r["rank"])]
    assert got == expect


def test_bpe_train_matches_pure_python(spark, sf_dir):
    """q_bpe_train vs an independent pure-python BPE trainer (symbol-list
    representation, no string-replace trick) over the same vocabulary —
    different algorithm and data structure, identical merge list."""
    import collections
    import re as _re

    import duckdb as _duck

    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.text import BPE_TRAIN_ROUNDS

    rows = all_queries()["q_bpe_train"].fn(spark, sf_dir).collect()

    con = _duck.connect()
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')").fetchall()]
    wf = collections.Counter()
    for t in texts:
        normed = _re.sub(r"[^a-z0-9]+", " ", t.lower()).strip()
        for w in normed.split(" "):
            if _re.fullmatch(r"[a-z]+", w):
                wf[w] += 1
    vocab = {tuple(w): f for w, f in wf.items()}
    expect = []
    for k in range(1, BPE_TRAIN_ROUNDS + 1):
        pairs = collections.Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (lhs, rhs), cnt = min(pairs.items(),
                              key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        expect.append((k, lhs, rhs, lhs + rhs, cnt))
        nxt = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == lhs
                        and syms[i + 1] == rhs):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + f
        vocab = nxt
    got = [(r["round"], r["lhs"], r["rhs"], r["merged"], r["cnt"])
           for r in sorted(rows, key=lambda r: r["round"])]
    assert got == expect


def test_bpe_encode_compression_invariants(spark, sf_dir):
    """Per doc: word_count <= bpe_tokens <= char_count (merges can never
    beat one-token-per-word or lose to one-token-per-char), and at least
    one document must actually compress below char-level after 10 merges."""
    from flink_job_spark.queries import all_queries

    rows = all_queries()["q_bpe_encode"].fn(spark, sf_dir).collect()
    assert rows
    assert all(r["n_words"] <= r["n_bpe_tokens"] <= r["n_chars"] for r in rows)
    assert any(r["n_bpe_tokens"] < r["n_chars"] for r in rows)


def test_gopher_rules_flags_and_signals(spark, sf_dir):
    """Flags re-derived from the reported integer signals (the flag columns
    can never disagree with the numbers they summarize), plus non-vacuity:
    every rule fails somewhere and passes somewhere on the shipped corpus —
    a threshold that never fires is a dead rule."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.text import (
        GOPHER_MAX_WORDS,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_MWL_MAX,
        GOPHER_MWL_MIN,
    )

    rows = all_queries()["q_gopher_rules"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        wc = int(GOPHER_MIN_WORDS <= r["n_words"] <= GOPHER_MAX_WORDS)
        mwl = int(GOPHER_MWL_MIN * r["n_words"] <= r["n_word_chars"]
                  <= GOPHER_MWL_MAX * r["n_words"])
        st = int(r["n_stopwords"] >= GOPHER_MIN_STOPWORDS)
        assert (r["wc_pass"], r["mwl_pass"], r["stop_pass"]) == (wc, mwl, st)
        assert r["passes"] == (wc & mwl & st)
        assert 0 <= r["n_alpha_words"] <= r["n_words"]
        assert 0 <= r["n_stopwords"] <= 10
    for flag in ("wc_pass", "mwl_pass", "stop_pass"):
        vals = {r[flag] for r in rows}
        assert vals == {0, 1}, f"{flag} is vacuous on this corpus: {vals}"


def test_quality_classifier_matches_python_twin(spark, sf_dir):
    """Logits re-derived per doc with hashlib: same normalize, same bucket
    hash, same weight derivation — integer-exact equality, plus label
    non-vacuity (a classifier that says one thing is dead)."""
    import hashlib
    import re

    from flink_job_spark.queries import all_queries
    from flink_job_spark.queries.text import QCLF_BUCKETS, QCLF_WEIGHT_MOD
    from flink_job_spark.sources.tables import load_table

    def u32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    expected = {}
    for r in docs:
        ws = re.sub(r"[^a-z0-9]+", " ", r["text"].lower()).strip().split(" ")
        logit = 0
        for w in ws:
            b = u32(w) % QCLF_BUCKETS
            logit += u32(f"qclf|{b}") % QCLF_WEIGHT_MOD - (QCLF_WEIGHT_MOD - 1) // 2
        expected[r["doc_id"]] = (len(ws), logit, int(logit > 0))

    got = {
        r["doc_id"]: (r["n_tokens"], r["logit"], r["label"])
        for r in all_queries()["q_quality_classifier"].fn(spark, sf_dir).collect()
    }
    assert got == expected
    labels = {v[2] for v in got.values()}
    assert labels == {0, 1}, f"classifier is vacuous: labels={labels}"


@pytest.mark.usefixtures("spark")
@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(texts=st.lists(
    st.text(alphabet=(string.ascii_letters + string.digits + " .,!"
                      + "今日は良天気中文本分析測試"
                      + "カタひらがな混在ーー・"
                      + "สวัสดีครับไทย"),
            min_size=0, max_size=120),
    min_size=1, max_size=20))
def test_multiscript_segmentation_twins_agree(spark, texts):
    """r6 script-aware words(): Spark and DuckDB segment mixed
    Latin/CJK/kana/Thai text identically — normalized form, word count,
    distinct count, and 3-shingle count all bit-equal. Under the pre-r6
    rule every no-space-script char was STRIPPED (CJK docs had zero
    words); this property keeps the per-codepoint fallback honest."""
    import duckdb

    from flink_job_spark.functions.text import (word_shingles,
                                                word_shingles_duck, words,
                                                words_duck)
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    staged = df.select("text", norm_text("text").alias("norm"),
                       words("text").alias("w"))
    got = staged.select(
        "norm",
        F.size("w").alias("nw"),
        F.size(F.array_distinct("w")).alias("nu"),
        F.size(word_shingles("w")).alias("ns"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t (text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
    ws = words_duck("text")
    duck = con.execute(
        f"SELECT {norm_text_duck('text')}, len({ws}), "
        f"len(list_distinct({ws})), len({word_shingles_duck(ws)}) FROM t"
    ).fetchall()
    for i, (g, d) in enumerate(zip(got, duck)):
        assert g["norm"] == d[0], (texts[i], g["norm"], d[0])
        assert (g["nw"], g["nu"], g["ns"]) == (d[1], d[2], d[3]), texts[i]


def test_multiscript_segmentation_rule_pinned(spark):
    """The per-script rule, pinned on known strings: CJK/kana/Thai one
    token per codepoint, Latin unchanged, mixed text interleaves."""
    from pyspark.sql import functions as F

    from flink_job_spark.functions.text import words

    cases = {
        "Hello, World! 42": 3,
        "今日は良い天気です": 9,          # 9 codepoints = 9 tokens
        "mixed 中文 and ENGLISH text": 6,
        "สวัสดีครับ": 10,
        "カタカナとひらがな混在": 11,
    }
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {r["text"]: r["n"] for r in
           df.select("text", F.size(words("text")).alias("n")).collect()}
    assert got == cases


def test_bpe_encode_leaves_one_trainer_frame(spark, sf_dir):
    """After one collect of q_bpe_encode, the trainer has released every
    superseded round: one cached vocabulary frame is left, not two."""
    from flink_job_spark.queries import all_queries
    from flink_job_spark.session import persistent_rdd_ids, unpersist_rdd_ids

    # an earlier run's cached rounds would serve these plans without new RDDs
    spark.catalog.clearCache()
    before = persistent_rdd_ids(spark)
    all_queries()["q_bpe_encode"].fn(spark, sf_dir).collect()
    left = persistent_rdd_ids(spark) - before
    unpersist_rdd_ids(spark, left)
    assert len(left) == 1, left
