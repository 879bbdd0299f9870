"""Cavnar–Trenkle language ID (functions/langid.py) + URL curation
(operators/url_curation.py) + the LocalRelation literal-table helper
(functions/local.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flouds_vectordb_spark.functions.langid import (
    DOC_TOP,
    LANGUAGES,
    PROFILE_TOP,
    PROFILES,
    _char_ngrams,
    doc_ngrams,
    lang_id,
    lang_id_sql,
)
from flouds_vectordb_spark.functions.local import local_df
from flouds_vectordb_spark.queries import _LANGID_FIXTURE


def test_profiles_shape_and_ranks():
    assert len(LANGUAGES) >= 20
    per_lang: dict[str, list[int]] = {}
    for lang, gram, rank in PROFILES:
        per_lang.setdefault(lang, []).append(rank)
        assert 1 <= len(gram) <= 5  # padded 1..3-grams
    for lang, ranks in per_lang.items():
        assert ranks == sorted(ranks)
        assert ranks[0] == 1
        assert len(ranks) <= PROFILE_TOP


def test_python_and_spark_ngrams_agree(spark):
    texts = [
        "Hello, World! it's 42 fine",
        "naïve café déjà-vu",
        "昨日私たちは 市場へ",
        "",
    ]
    df = local_df(spark, [(i, t) for i, t in enumerate(texts)],
                  "id bigint, text string")
    got = {r["id"]: r["g"] for r in
           df.select("id", doc_ngrams(F.col("text")).alias("g")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _char_ngrams(t.lower()), t


def test_lang_id_fixture_accuracy(spark):
    fix = local_df(spark, [(i, t) for i, _, t in _LANGID_FIXTURE],
                   "id bigint, text string")
    got = {r["id"]: r["lang"] for r in lang_id(fix).collect()}
    exp = {i: lang for i, lang, _ in _LANGID_FIXTURE}
    hits = sum(got[i] == exp[i] for i in exp)
    # held-out sentences, every profiled language + two no-evidence rows
    assert hits == len(exp), {i: (exp[i], got[i])
                              for i in exp if got[i] != exp[i]}
    assert got[900] == "und" and got[901] == "und"


def test_lang_id_matches_duckdb_oracle(spark):
    fix = local_df(spark, [(i, t) for i, _, t in _LANGID_FIXTURE],
                   "id bigint, text string")
    got = {(r["id"], r["lang"], int(r["distance"]))
           for r in lang_id(fix).collect()}
    vals = ", ".join(
        "(" + str(i) + "::BIGINT, '" + t.replace("'", "''") + "')"
        for i, _, t in _LANGID_FIXTURE)
    sql = lang_id_sql(f"(SELECT * FROM (VALUES {vals}) AS _f(id, text))")
    oracle = {(int(r[0]), r[1], int(r[2]))
              for r in duckdb.connect().execute(sql).fetchall()}
    assert got == oracle


def test_lang_id_plan_is_pure_map(spark):
    # the r10 contract: classification is one Arrow UDF per split — no
    # Exchange (shuffle/broadcast) anywhere, and the UDF is evaluated
    # exactly once per input branch (posexplode/size double-extraction
    # and InferFiltersFromGenerate both produced a second ArrowEvalPython
    # in earlier shapes)
    fix = local_df(spark, [(i, t) for i, _, t in _LANGID_FIXTURE],
                   "id bigint, text string")
    plan = lang_id(fix)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_classify_text_twin_matches_spark(spark):
    # classify_text is the per-doc Python twin the UDF maps — pin it
    # against the full Spark path on the fixture
    from flouds_vectordb_spark.functions.langid import classify_text

    fix = local_df(spark, [(i, t) for i, _, t in _LANGID_FIXTURE],
                   "id bigint, text string")
    got = {r["id"]: (r["lang"], int(r["distance"]))
           for r in lang_id(fix).collect()}
    for i, _, t in _LANGID_FIXTURE:
        assert got[i] == classify_text(t), (i, t)


def test_lang_id_simple_lowercase_matches_duckdb(spark):
    """Python str.lower applies FULL Unicode mappings (İ -> i + combining
    dot, word-final Σ -> ς) while DuckDB's lower() applies the SIMPLE
    per-codepoint mappings — _lower_simple pins the engine side to the
    oracle's behavior. These two inputs diverged before the fix (found in
    review, reproduced live)."""
    rows = [(1, "İstanbul'da İYİ GÜNLER İİİİ"), (2, "ΣΟΦΟΣ ΟΔΥΣΣΕΥΣ"),
            (3, "Zürich STRASSE mixed Σ case İ tail")]
    fix = local_df(spark, rows, "id bigint, text string")
    got = {(r["id"], r["lang"], int(r["distance"]))
           for r in lang_id(fix).collect()}
    vals = ", ".join(
        "(" + str(i) + "::BIGINT, '" + t.replace("'", "''") + "')"
        for i, t in rows)
    sql = lang_id_sql(f"(SELECT * FROM (VALUES {vals}) AS _f(id, text))")
    oracle = {(int(r[0]), r[1], int(r[2]))
              for r in duckdb.connect().execute(sql).fetchall()}
    assert got == oracle


def test_lang_id_doc_top_bound(spark):
    # a long doc cannot contribute more than DOC_TOP grams to the distance
    long_text = "the and of to in is was " * 500
    df = local_df(spark, [(1, long_text)], "id bigint, text string")
    row = lang_id(df).collect()[0]
    assert row["lang"] == "en"
    assert 0 < row["distance"] <= DOC_TOP * PROFILE_TOP


# --- URL curation ------------------------------------------------------------

def test_extract_host_and_registered_domain(spark):
    from flouds_vectordb_spark.operators.url_curation import (
        extract_host,
        registered_domain,
    )

    cases = [
        ("https://www.example.com/a/b?q=1", "example.com", "example.com"),
        ("http://sub.shop.example.co.uk:8080/x", "sub.shop.example.co.uk",
         "example.co.uk"),
        ("HTTPS://WWW.NEWS.NET./p", "news.net", "news.net"),
        ("ftp://user:pw@files.example.org/f", "files.example.org",
         "example.org"),
        ("bare-host.de/path", "bare-host.de", "bare-host.de"),
        ("localhost", "localhost", "localhost"),
        ("", None, None),
    ]
    df = local_df(spark, [(i, u) for i, (u, _, _) in enumerate(cases)],
                  "id bigint, url string")
    out = {r["id"]: (r["h"], r["d"]) for r in df.select(
        "id", extract_host(F.col("url")).alias("h"),
        registered_domain(extract_host(F.col("url"))).alias("d")).collect()}
    for i, (u, h, d) in enumerate(cases):
        assert out[i] == (h, d), u


def test_domain_cap_and_blocklist(spark):
    from flouds_vectordb_spark.operators.url_curation import (
        blocklist_filter,
        domain_cap,
        with_domain,
    )

    rows = [(i, f"https://www.site{i % 3}.com/p/{i}") for i in range(30)]
    df = local_df(spark, rows, "id bigint, url string")
    capped = domain_cap(df, 4, url_col="url", key_col="id", seed=1)
    by_dom = (with_domain(capped).groupBy("domain").count().collect())
    assert all(r["count"] <= 4 for r in by_dom)
    assert sum(r["count"] for r in by_dom) == 12  # 3 domains x 4
    # determinism: same seed -> same survivors
    again = sorted(r["id"] for r in
                   domain_cap(df, 4, url_col="url", key_col="id", seed=1)
                   .collect())
    assert again == sorted(r["id"] for r in capped.collect())

    kept = blocklist_filter(df, ["site1.com"], url_col="url")
    ids = sorted(r["id"] for r in kept.collect())
    assert ids == [i for i in range(30) if i % 3 != 1]
    # unparseable URLs survive blocklisting
    weird = local_df(spark, [(1, ""), (2, "https://site1.com/x")],
                     "id bigint, url string")
    assert [r["id"] for r in
            blocklist_filter(weird, ["site1.com"]).collect()] == [1]


# --- local_df ---------------------------------------------------------------

def test_local_df_is_local_relation_and_exact(spark):
    rows = [(1, "o'neill \\ back", 0.1 + 0.2, [1.5, -0.913]),
            (2, None, None, None)]
    df = local_df(spark, rows,
                  "id bigint, s string, d double, a array<double>")
    got = sorted(df.collect(), key=lambda r: r["id"])
    assert got[0]["s"] == "o'neill \\ back"
    assert got[0]["d"] == 0.1 + 0.2  # bit-exact round trip
    assert got[0]["a"] == [1.5, -0.913]
    assert got[1]["s"] is None and got[1]["d"] is None
    assert df.schema.simpleString() == (
        "struct<id:bigint,s:string,d:double,a:array<double>>")
    # the plan is a LocalRelation scan — no RDD stage
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_local_df_empty_falls_back(spark):
    df = local_df(spark, [], "id bigint, s string")
    assert df.count() == 0 and df.columns == ["id", "s"]


def test_classify_vectorized_equals_reference():
    """r14: the packed-gram vectorized classify_text must return the exact
    (lang, distance) integers of the pure-Python reference on every
    training snippet, mixed scripts, and degenerate inputs."""
    from reference_impls import classify_text_ref

    from flouds_vectordb_spark.functions.langid import _TRAIN, classify_text

    cases = list(_TRAIN.values())
    cases += [
        None, "", "   ", "12345 67.89 --", "a",
        "MIXED Case İstanbul ΟΔΥΣΣΕΥΣ straße",
        "nbsp inside and tabs\tare\nnot letters",
        "中文字符 mixed with english words здесь",
        "combining áccents ètoile works",
        "x " * 300,  # long repetitive doc (DOC_TOP truncation ties)
        "the quick brown fox jumps over the lazy dog",
    ]
    for t in cases:
        assert classify_text(t) == classify_text_ref(t), repr(t)


def test_classify_vectorized_equals_reference_on_fixture(spark):
    import os

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest
        pytest.skip("testdata missing")
    from reference_impls import classify_text_ref

    from flouds_vectordb_spark.functions.langid import classify_text

    texts = [r[0] for r in
             spark.read.parquet(f"{sf}/documents.parquet")
             .select("text").collect()]
    for t in texts:
        assert classify_text(t) == classify_text_ref(t)


def test_classify_text_survives_lone_surrogates():
    """ADVICE r14: the vectorized gram ranker raised UnicodeEncodeError on
    lone surrogates; like the reference, they are word breaks."""
    from reference_impls import classify_text_ref

    from flouds_vectordb_spark.functions.langid import classify_text

    for t in ("the quick \ud800brown fox", "\udfff", "der\udc00 schnelle Hund",
              "😀 smile \ud83d"):
        assert classify_text(t) == classify_text_ref(t), t
