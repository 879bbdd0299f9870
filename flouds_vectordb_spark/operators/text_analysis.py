"""Text-analysis operators for LLM training-data pipelines.

Beyond the reference's surface (SURVEY.md §7 Phase 4): per-document quality
signals a 100 TB corpus pipeline computes before training — token counts,
length stats, stop-word ratio, a composite quality score, a language-ID
heuristic, and a rolling-hash document fingerprint. All pure Column
expressions over one scan (no shuffle at all for the per-doc stats; one
aggregation for the corpus rollup) — embarrassingly parallel at any scale.

Each builder has a DuckDB *_sql twin for the correctness oracle. Ratios are
rounded to 6 decimals for cross-engine hashability.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flouds_vectordb_spark import regime
from flouds_vectordb_spark.functions.hashing import hash64, hash64_sql
from flouds_vectordb_spark.functions.text import tokenize, tokenize_sql
from flouds_vectordb_spark.lifecycle import tracked_persist as _tracked_persist
from flouds_vectordb_spark.sources.tables import spread_small_input
from flouds_vectordb_spark.stopwords import NLTK_ENGLISH

# tiny per-language function-word lists for the n-gram/function-word
# language-ID heuristic (public common-word lists; the fixture corpus is
# synthetic so the heuristic is exercised, not accurate)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une"),
}

# Quality ratios use the compact 179-word NLTK core, NOT the full Q6
# union (stopwords.DEFAULT_STOPWORDS, ~1.8k words): per-token membership
# against an inline array is O(tokens x words) inside codegen, and the
# custom list's junk entries ("a1", "10", phrases) add cost without
# signal. Q6 text-filter parity is unaffected — it has its own path.
_STOPWORDS_SORTED = tuple(sorted(NLTK_ENGLISH))


def _ratio(n: Column, d: Column) -> Column:
    return F.when(d > 0, n.cast("double") / d.cast("double")).otherwise(F.lit(0.0))


def text_stats(df: DataFrame, id_col: str = "id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_chars_norm, avg_token_len_r, stopword_ratio_r,
    distinct_ratio_r, quality_r, lang_guess, fingerprint)."""
    toks = tokenize(F.col(text_col))
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
        toks.alias("_toks"))
    n_tokens = F.size("_toks")
    n_chars = F.length("_t")
    sw = F.array(*[F.lit(w) for w in _STOPWORDS_SORTED])
    n_stop = F.size(F.filter("_toks", lambda t: F.array_contains(sw, t)))
    n_distinct = F.size(F.array_distinct("_toks"))
    avg_len = _ratio(
        F.aggregate(F.transform("_toks", lambda t: F.length(t)), F.lit(0), lambda a, x: a + x),
        n_tokens,
    )
    stop_ratio = _ratio(n_stop, n_tokens)
    distinct_ratio = _ratio(n_distinct, n_tokens)
    # composite quality: penalize too-short docs, reward vocabulary variety,
    # penalize stop-word stuffing — fixed-order float math for parity
    quality = (
        F.least(n_tokens.cast("double") / F.lit(20.0), F.lit(1.0)) * F.lit(0.5)
        + distinct_ratio * F.lit(0.3)
        + (F.lit(1.0) - stop_ratio) * F.lit(0.2)
    )

    # language-ID: count function-word hits per language; argmax with a
    # deterministic tie-break = language-code order (de, en, fr)
    hit_cols = {}
    for lang, markers in sorted(LANG_MARKERS.items()):
        marr = F.array(*[F.lit(m) for m in markers])
        hit_cols[lang] = F.size(F.filter("_toks", lambda t: F.array_contains(marr, t)))
    best = F.greatest(*hit_cols.values())
    lang_guess = F.when(best == 0, F.lit("und"))
    for lang in sorted(LANG_MARKERS):
        lang_guess = lang_guess.when(hit_cols[lang] == best, F.lit(lang))
    lang_guess = lang_guess.otherwise(F.lit("und"))

    # rolling document fingerprint: md5-derived hash of the normalized token
    # stream — a content fingerprint stable under whitespace changes
    fingerprint = hash64(F.array_join("_toks", " "))

    return d.select(
        "id",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars_norm"),
        F.round(avg_len, 6).alias("avg_token_len_r"),
        F.round(stop_ratio, 6).alias("stopword_ratio_r"),
        F.round(distinct_ratio, 6).alias("distinct_ratio_r"),
        F.round(quality, 6).alias("quality_r"),
        lang_guess.alias("lang_guess"),
        fingerprint.alias("fingerprint"),
    )


def text_stats_sql(table_sql: str, id_expr: str = "id", text_expr: str = "text") -> str:
    """DuckDB oracle twin of text_stats."""
    toks = tokenize_sql(text_expr)
    sw_list = ", ".join("'" + w.replace("'", "''") + "'" for w in _STOPWORDS_SORTED)
    langs = sorted(LANG_MARKERS)
    hit_sel = ""
    for lang in langs:
        marr = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        hit_sel += f", len(list_filter(_toks, t -> list_contains([{marr}], t))) AS _h_{lang}"
    best = "greatest(" + ", ".join(f"_h_{lang}" for lang in langs) + ")"
    guess_cases = " ".join(f"WHEN _h_{lang} = {best} THEN '{lang}'" for lang in langs)
    return f"""
WITH _base AS (
  SELECT {id_expr} AS id, {text_expr} AS _t, {toks} AS _toks FROM {table_sql}
),
_stats AS (
  SELECT id,
         len(_toks) AS n_tokens,
         length(_t) AS n_chars_norm,
         list_sum(list_transform(_toks, t -> length(t))) AS _sum_len,
         len(list_filter(_toks, t -> list_contains([{sw_list}], t))) AS _n_stop,
         len(list_distinct(_toks)) AS _n_distinct
         {hit_sel},
         {hash64_sql("array_to_string(_toks, ' ')")} AS fingerprint
  FROM _base
)
SELECT id, n_tokens, n_chars_norm,
       round(CASE WHEN n_tokens > 0 THEN _sum_len::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END, 6)
         AS avg_token_len_r,
       round(CASE WHEN n_tokens > 0 THEN _n_stop::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END, 6)
         AS stopword_ratio_r,
       round(CASE WHEN n_tokens > 0 THEN _n_distinct::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END, 6)
         AS distinct_ratio_r,
       round(least(n_tokens::DOUBLE / 20.0, 1.0) * 0.5
             + (CASE WHEN n_tokens > 0 THEN _n_distinct::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END) * 0.3
             + (1.0 - (CASE WHEN n_tokens > 0 THEN _n_stop::DOUBLE / n_tokens::DOUBLE ELSE 0.0 END)) * 0.2, 6)
         AS quality_r,
       CASE WHEN {best} = 0 THEN 'und' {guess_cases} ELSE 'und' END AS lang_guess,
       fingerprint
FROM _stats
"""


def corpus_rollup(stats: DataFrame, df: DataFrame, id_col: str = "id",
                  group_col: str = "source") -> DataFrame:
    """Corpus-level quality rollup grouped by a dimension column: doc count,
    token sum, mean quality. Integer sums are exact; the mean divides two
    exact sums -> deterministic."""
    joined = stats.join(df.select(F.col(id_col).alias("id"), F.col(group_col)), "id")
    return joined.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            # fixed-point micro-units: integer sum is exact and order-free,
            # so the mean is deterministic across engines/parallelism
            F.sum(F.round(F.col("quality_r") * 1e6, 0).cast("long")).cast("double") / 1e6
            / F.count("*").cast("double"),
            6,
        ).alias("mean_quality_r"),
    )


def corpus_rollup_sql(stats_sql: str, table_sql: str, id_expr: str = "id",
                      group_col: str = "source") -> str:
    return f"""
SELECT {group_col}, count(*) AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
       round((sum(round(quality_r * 1e6, 0)::BIGINT)::DOUBLE / 1e6) / count(*)::DOUBLE, 6)
         AS mean_quality_r
FROM ({stats_sql}) s JOIN (SELECT {id_expr} AS id, {group_col} FROM {table_sql}) t USING (id)
GROUP BY {group_col}
"""


# --- repetition filters (r6) --------------------------------------------------
# The published repetition-filter family LLM pipelines apply alongside the
# quality score above (Gopher/MassiveText-style rules): documents dominated
# by repeated lines or one repeated n-gram are boilerplate/spam. All pure
# Column expressions; the per-distinct-element counting is O(L^2) per
# DOCUMENT (not per corpus) — document length is bounded by the collection
# contract (metadata_length <= 64KB), so the work per row is constant and
# the scan stays embarrassingly parallel at any corpus size.

REP_DUP_LINE_MAX = 0.30    # duplicate-line fraction threshold
REP_TOP_2GRAM_MAX = 0.20   # top-2-gram character-coverage threshold


def repetition_stats(df: DataFrame, id_col: str = "id",
                     text_col: str = "text") -> DataFrame:
    """(id, n_lines, dup_line_frac_r, dup_line_char_frac_r,
    top_2gram_char_frac_r, repetitive) per document.

    - dup_line_frac: 1 - distinct/total over non-empty trimmed lines.
    - dup_line_char_frac: fraction of line characters lying in lines that
      occur more than once (every copy counts, the MassiveText rule).
    - top_2gram_char_frac: max over word 2-grams of occurrences *
      gram-length, over the normalized token-stream length — a
      deterministic argmax-free formulation of "characters covered by the
      most frequent 2-gram" (no cross-engine tie-break on equal counts);
      grams occurring once contribute 0, so short clean docs never trip
      the threshold on a singleton gram.
    - repetitive: either fraction above its published threshold."""
    from flouds_vectordb_spark.functions.hashing import shingles

    toks = tokenize(F.col(text_col))
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
        toks.alias("_toks"))
    lines = F.filter(
        F.transform(F.split(F.col("_t"), "\n"), lambda t: F.trim(t)),
        lambda x: x != "")
    d = d.withColumn("_lines", lines)
    n_lines = F.size("_lines")
    n_dlines = F.size(F.array_distinct("_lines"))
    dup_line_frac = _ratio(n_lines - n_dlines, n_lines)
    line_chars = F.aggregate(
        F.transform("_lines", lambda x: F.length(x)), F.lit(0), lambda a, x: a + x)
    # duplicate-line chars via SORTED neighbors (r7 — the per-element
    # filter-count was O(lines^2) per doc): an element occurs >1 times iff
    # it equals its predecessor or successor in the sorted array. The
    # greatest/least index clamp keeps element_at in 1..n; at the clamped
    # boundary the equality degenerates to self-compare and the i>1 / i<n
    # conjunct kills it. Values are identical to the quadratic form (sum
    # over the multiset is order-free).
    ls = F.array_sort("_lines")
    eln = lambda i: F.element_at(ls, i)  # noqa: E731
    dup_line_chars = F.aggregate(
        F.transform(
            F.when(n_lines >= 1, F.sequence(F.lit(1), n_lines))
            .otherwise(F.array().cast("array<int>")),
            lambda i: F.when(
                ((i > 1) & (eln(F.greatest(i - 1, F.lit(1))) == eln(i)))
                | ((i < n_lines) & (eln(F.least(i + 1, n_lines)) == eln(i))),
                F.length(eln(i))).otherwise(F.lit(0))),
        F.lit(0), lambda a, x: a + x)
    dup_line_char_frac = _ratio(dup_line_chars, line_chars)

    d = d.withColumn("_g2", shingles(F.col("_toks"), n=2))
    stream_chars = F.length(F.array_join("_toks", " "))
    # top-2-gram coverage via sorted RUNS (r7, was O(grams^2)): sort the
    # grams, find run-start indices, and each run of length > 1
    # contributes run_len * gram_len; the max over runs equals the old
    # max over distinct grams with freq > 1 (grams occurring once
    # contribute 0 — a short clean doc never trips the threshold on a
    # singleton gram). element_at past the end is NULL (non-ANSI), which
    # coalesces to the one-past-the-end sentinel.
    gs = F.array_sort("_g2")
    ng = F.size(gs)
    elg = lambda i: F.element_at(gs, i)  # noqa: E731
    starts = F.filter(
        F.when(ng >= 1, F.sequence(F.lit(1), ng))
        .otherwise(F.array().cast("array<int>")),
        lambda i: (i == 1) | (elg(i) != elg(F.greatest(i - 1, F.lit(1)))))
    run_cover = F.transform(
        starts,
        lambda a, i: F.when(
            F.coalesce(F.try_element_at(starts, i + 2), ng + 1) - a > 1,
            (F.coalesce(F.try_element_at(starts, i + 2), ng + 1) - a)
            * F.length(elg(a))).otherwise(F.lit(0)))
    top_cover = F.coalesce(F.array_max(run_cover), F.lit(0))
    top_2gram_frac = F.when(F.size("_toks") >= 2,
                            _ratio(top_cover, stream_chars)).otherwise(F.lit(0.0))

    return d.select(
        "id",
        n_lines.alias("n_lines"),
        F.round(dup_line_frac, 6).alias("dup_line_frac_r"),
        F.round(dup_line_char_frac, 6).alias("dup_line_char_frac_r"),
        F.round(top_2gram_frac, 6).alias("top_2gram_char_frac_r"),
        ((F.round(dup_line_frac, 6) > REP_DUP_LINE_MAX)
         | (F.round(top_2gram_frac, 6) > REP_TOP_2GRAM_MAX)).alias("repetitive"),
    )


def repetition_stats_sql(table_sql: str, id_expr: str = "id",
                         text_expr: str = "text") -> str:
    """DuckDB oracle twin of repetition_stats."""
    from flouds_vectordb_spark.functions.hashing import shingles_sql

    tok = tokenize_sql(text_expr)
    lines = (f"list_filter(list_transform(string_split({text_expr}, chr(10)), "
             f"t -> trim(t)), x -> x <> '')")
    g2 = shingles_sql("_toks", n=2)
    return f"""
WITH _base AS (
  SELECT {id_expr} AS id, {tok} AS _toks, {lines} AS _lines FROM {table_sql}
),
_g AS (SELECT *, {g2} AS _g2 FROM _base)
SELECT id,
  len(_lines) AS n_lines,
  round(CASE WHEN len(_lines) > 0
        THEN (len(_lines) - len(list_distinct(_lines)))::DOUBLE / len(_lines)
        ELSE 0.0 END, 6) AS dup_line_frac_r,
  round(CASE WHEN list_sum_chars > 0
        THEN dup_chars::DOUBLE / list_sum_chars ELSE 0.0 END, 6) AS dup_line_char_frac_r,
  round(CASE WHEN len(_toks) >= 2 AND stream_chars > 0
        THEN top_cover::DOUBLE / stream_chars ELSE 0.0 END, 6) AS top_2gram_char_frac_r,
  (round(CASE WHEN len(_lines) > 0
        THEN (len(_lines) - len(list_distinct(_lines)))::DOUBLE / len(_lines)
        ELSE 0.0 END, 6) > {REP_DUP_LINE_MAX}
   OR round(CASE WHEN len(_toks) >= 2 AND stream_chars > 0
        THEN top_cover::DOUBLE / stream_chars ELSE 0.0 END, 6) > {REP_TOP_2GRAM_MAX})
   AS repetitive
FROM (
  -- r7: sorted-neighbor / sorted-run counting, mirroring the Spark side
  -- (was O(n^2) list_filter counts per document). Out-of-range list
  -- indexing is NULL in DuckDB, so the boundary compares fall out of the
  -- CASE / feed the coalesced end sentinel naturally.
  SELECT id, _toks, _lines,
    coalesce(list_sum(list_transform(_lines, x -> length(x))), 0) AS list_sum_chars,
    coalesce(list_sum(list_transform(generate_series(1, len(_ls)),
      i -> CASE WHEN _ls[i-1] = _ls[i] OR _ls[i+1] = _ls[i]
           THEN length(_ls[i]) ELSE 0 END)), 0) AS dup_chars,
    length(array_to_string(_toks, ' ')) AS stream_chars,
    coalesce(list_max(list_transform(_starts,
      (a, i) -> CASE WHEN coalesce(_starts[i+1], len(_gs) + 1) - a > 1
           THEN (coalesce(_starts[i+1], len(_gs) + 1) - a) * length(_gs[a])
           ELSE 0 END)), 0) AS top_cover
  FROM (
    SELECT *, list_filter(generate_series(1, len(_gs)),
                i -> i = 1 OR _gs[i] <> _gs[i-1]) AS _starts
    FROM (
      SELECT *, list_sort(_lines) AS _ls, list_sort(_g2) AS _gs FROM _g
    )
  )
)
"""


# --- PII scrubbing (r6; extended classes + digit-boundary guards r7) ---------
# Regex redaction of the machine-recognizable identifier classes a
# pre-training pipeline scrubs wholesale (emails, IPv4 addresses, SSNs,
# payment-card numbers, phone numbers). Patterns restricted to the
# Java-regex/RE2 COMMON dialect (character classes, bounded repetition,
# non-capturing groups, \b — no backrefs-in-pattern/lookarounds) so the
# DuckDB twin executes them verbatim. Redaction order is FIXED
# (email -> ip -> ssn -> ccard -> phone): the card pattern would otherwise
# lose digit groups to the phone pattern, and the phone pattern would
# consume dotted IPv4s; counts are taken at each step's input, so both
# engines see identical intermediates. Pure Column expressions — one
# projection, no UDF, embarrassingly parallel at any corpus size.
#
# Digit-boundary guards (ADVICE r6): \b cannot separate digit-from-digit,
# so the numeric classes are wrapped in consuming guards
# (^|[^0-9])(core)([^0-9]|$) and the replacement restores $1/$3 — a long
# digit run ("12345678901234") no longer loses a 10-digit prefix to
# <PHONE>. A consuming guard eats the separator between ADJACENT matches
# ("<p1> <p2>": the space is part of match 1, so match 2 loses its leading
# guard), so guarded classes run TWO passes; misses are never adjacent
# (each one is flanked by redactions), so two passes are complete. Both
# engines resume scanning after the full consumed match, so the pass
# structure is engine-identical.

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
# US SSN, separator-required form (the unseparated 9-digit run is
# indistinguishable from any other 9-digit number).
PII_SSN = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"
# payment card: 4x4 digit groups with uniform optional space/dash
# separators (covers the 16-digit Visa/MC/Discover layout; a Luhn check
# is not expressible as a regex and is intentionally out of scope).
PII_CCARD = r"[0-9]{4}(?:[ -]?[0-9]{4}){3}"
# phone: PRECISION-FIRST structured forms only. Alternative 1 is the
# international shape (+CC then 2-4 separated groups of 2-4 digits:
# "+44 20 7946 0958"); alternative 2 is the NANP 3-3-4 shape with an
# optional +CC prefix. A loose any-digits-and-separators class would
# greedily merge unrelated benign numbers ("pages 1990 2005" -> one
# <PHONE>) and would need \s, whose class membership differs between
# Java regex and RE2 (\x0B) — these patterns stay in the strict common
# dialect and cannot span lines.
PII_PHONE = (r"(?:\+[0-9]{1,3}(?:[ .-][0-9]{2,4}){2,4}"
             r"|(?:\+[0-9]{1,3}[ .-]?)?\(?[0-9]{3}\)?[ .-]?[0-9]{3}[ .-]?[0-9]{4})")


def _guarded(core: str) -> str:
    return f"(^|[^0-9])({core})([^0-9]|$)"


# (name, pattern, tag, guarded) — guarded steps count matches on capture
# group 2 (the core) and run two replace passes with $1/$3 restored.
_PII_STEPS = (("email", PII_EMAIL, "<EMAIL>", False),
              ("ipv4", PII_IPV4, "<IP>", False),
              ("ssn", _guarded(PII_SSN), "<SSN>", True),
              ("ccard", _guarded(PII_CCARD), "<CCARD>", True),
              ("phone", _guarded(PII_PHONE), "<PHONE>", True))


# Compiled-per-process pattern cache for the Arrow-batched scrubber.
# re.ASCII pins \b/\w/\d to the ASCII set — the semantics DuckDB's RE2
# twin uses, so Spark and the oracle agree on every input. NOTE (r11
# ADVICE): Java's \b is Unicode-AWARE even without
# UNICODE_CHARACTER_CLASS, so the former JVM Column chain left e.g.
# 'café1.2.3.4é' unredacted while RE2 (and this scrubber) redact it —
# the r11 rewrite was an oracle-parity FIX for identifiers adjacent to
# non-ASCII letters, not a behavior-preserving port (pinned in
# test_scrub_pii_non_ascii_adjacent).
_PII_COMPILED: tuple | None = None


def _pii_compiled():
    global _PII_COMPILED
    if _PII_COMPILED is None:
        import re

        steps = []
        for name, pat, tag, guarded in _PII_STEPS:
            repl = (r"\g<1>" + tag + r"\g<3>") if guarded else tag
            steps.append((name, re.compile(pat, re.ASCII), repl, guarded))
        # conservative per-doc gates: every numeric class needs two
        # consecutive digits or digit.digit (IPv4 single-digit octets);
        # email needs '@'. A doc failing a gate provably has zero matches
        # for the gated classes, so the scrubber skips their traversals —
        # most corpus documents carry no identifiers at all.
        num_gate = re.compile(r"[0-9][0-9]|[0-9]\.[0-9]", re.ASCII)
        _PII_COMPILED = (tuple(steps), num_gate)
    return _PII_COMPILED


def _scrub_pii_one(t):
    """One document through the full fixed-order class chain — same step
    order and counting rule as the former per-class Column chain (counts
    are taken at each step's input; subn counts replacements it performs;
    guarded classes run two passes), with ONE intended divergence: ASCII
    \\b redacts identifiers adjacent to non-ASCII letters where Java's
    Unicode-aware \\b did not (see _PII_COMPILED note — oracle-parity
    fix). Order email->ip->ssn->ccard->phone."""
    if t is None:
        return (None, None, None, None, None, None)
    steps, num_gate = _pii_compiled()
    has_at = "@" in t
    has_num = num_gate.search(t) is not None
    out = t
    counts = []
    for name, cre, repl, guarded in steps:
        if not (has_at if name == "email" else has_num):
            counts.append(0)
            continue
        out, n = cre.subn(repl, out)
        if guarded:
            out, n2 = cre.subn(repl, out)
            n += n2
        counts.append(n)
    return (out, *counts)


_SCRUB_UDF = None


def scrub_pii_udf():
    """Arrow-vectorized pandas_udf: text -> struct<text_scrubbed, n_*> —
    the whole five-class scrub as ONE pure-map pass (the langid.py
    precedent). Why a UDF here (measured, r11): the Column form ran ~18
    sequential full-text Java-regex traversals per document (per class:
    regexp_extract_all + regexp_replace, guarded classes x2) — a CPU
    constant that does NOT amortize at 100 TB. re.subn fuses count+replace
    into one traversal per pass (8 max), and the '@'/digit gates skip
    whole classes for the PII-free majority of documents. Patterns are
    compiled once per Python worker process; the UDF object is memoized so
    repeated query builds don't re-wrap/re-pickle it."""
    global _SCRUB_UDF
    if _SCRUB_UDF is not None:
        return _SCRUB_UDF
    from pyspark.sql.functions import pandas_udf

    cols = ["text_scrubbed"] + [f"n_{n}" for n, _, _, _ in _PII_STEPS]
    spec = "struct<text_scrubbed:string," + ",".join(
        f"n_{n}:int" for n, _, _, _ in _PII_STEPS) + ">"

    @pandas_udf(spec)
    def _scrub(texts: pd.Series) -> pd.DataFrame:
        # column-wise construction: pd.DataFrame over a row-tuple list
        # runs per-cell object inference (~0.3 s for 5k rows, measured);
        # zip-transpose + dict build skips it
        data = list(zip(*(_scrub_pii_one(t) for t in texts)))
        if not data:
            return pd.DataFrame({c: [] for c in cols})
        return pd.DataFrame(dict(zip(cols, data)))

    _SCRUB_UDF = _scrub
    return _scrub


def scrub_pii(df: DataFrame, id_col: str = "id",
              text_col: str = "text") -> DataFrame:
    """(id, text_scrubbed, n_email, n_ipv4, n_ssn, n_ccard, n_phone): text
    with the five identifier classes replaced by typed placeholders, plus
    per-class match counts (guarded classes sum both passes).

    Scale shape: pure map, zero shuffle at scale — one Arrow batch in,
    one out, per input split; parallelizes embarrassingly and streams.
    The fixture spread is CAPPED at 8 (unlike lang_id's full-width
    spread): post-gate per-byte cost is small (0.19 s single-core for all
    of sf0.1), so 32-way task+worker overhead exceeds the compute it
    parallelizes (measured r11: 32-way 0.89 s, 8-way 0.31 s, 1-way
    0.46 s); at real scale the parquet reader already splits files at
    maxPartitionBytes and the cap branch never fires."""
    d = spread_small_input(df, target=8).select(
        F.col(id_col).alias("id"),
        scrub_pii_udf()(F.col(text_col)).alias("_r"))
    return d.select(
        "id", F.col("_r.text_scrubbed").alias("text_scrubbed"),
        *(F.col(f"_r.n_{name}").alias(f"n_{name}")
          for name, _, _, _ in _PII_STEPS))


def scrub_pii_sql(table_sql: str, id_expr: str = "id",
                  text_expr: str = "text") -> str:
    """DuckDB oracle twin of scrub_pii (same patterns, same fixed order,
    same two-pass guarded structure). Chained CTEs: each stage
    materializes its replace ONCE and the next stage counts on it —
    inlining the cumulative replace chain into every later expression
    would re-execute the earlier regexes per column."""
    # DuckDB '' literals pass backslashes through verbatim (no escape
    # processing), so only quotes need doubling
    esc = lambda p: p.replace("'", "''")  # noqa: E731
    ctes = [f"s0 AS (SELECT {id_expr} AS id, {text_expr} AS _t0 FROM {table_sql})"]
    carried = []
    stage = 0
    for name, pat, tag, guarded in _PII_STEPS:
        prev, keep = f"_t{stage}", ", ".join(["id", *carried])
        if not guarded:
            stage += 1
            ctes.append(
                f"s{stage} AS (SELECT {keep}, "
                f"len(regexp_extract_all({prev}, '{esc(pat)}')) AS n_{name}, "
                f"regexp_replace({prev}, '{esc(pat)}', '{tag}', 'g') AS _t{stage} "
                f"FROM s{stage - 1})")
            carried.append(f"n_{name}")
            continue
        repl = f"\\1{tag}\\3"
        mid = f"_t{stage}a"
        ctes.append(
            f"s{stage}a AS (SELECT {keep}, "
            f"len(regexp_extract_all({prev}, '{esc(pat)}', 2)) AS _n_{name}_1, "
            f"regexp_replace({prev}, '{esc(pat)}', '{repl}', 'g') AS {mid} "
            f"FROM s{stage})")
        stage += 1
        ctes.append(
            f"s{stage} AS (SELECT {keep}, "
            f"_n_{name}_1 + len(regexp_extract_all({mid}, '{esc(pat)}', 2)) "
            f"AS n_{name}, "
            f"regexp_replace({mid}, '{esc(pat)}', '{repl}', 'g') AS _t{stage} "
            f"FROM s{stage - 1}a)")
        carried.append(f"n_{name}")
    return (f"WITH {', '.join(ctes)} "
            f"SELECT id, _t{stage} AS text_scrubbed, {', '.join(carried)} "
            f"FROM s{stage}")


# --- Gopher quality-rule filter (r7) ------------------------------------------
# The published MassiveText/Gopher document-quality rule stack (Rae et al.
# 2021, Appendix A) as one single-scan operator: each rule is a pure
# Column expression over the tokenized document, the verdict is their
# conjunction, and every intermediate ratio is emitted (rounded to 6) so
# the decision is auditable. No UDF, no shuffle — embarrassingly parallel
# at any corpus size. Thresholds are the paper's.

GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_BULLET_LINE_FRAC = 0.90
GOPHER_MAX_ELLIPSIS_LINE_FRAC = 0.30
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MAX_SYMBOL_WORD_RATIO = 0.10
GOPHER_MIN_STOPWORD_HITS = 2
# the paper's "at least 2 of the following": a tiny fixed function-word set
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_BULLETS = ("•", "-", "*")


def gopher_quality(df: DataFrame, id_col: str = "id",
                   text_col: str = "text") -> DataFrame:
    """(id, n_words, mean_word_len_r, bullet_line_frac_r,
    ellipsis_line_frac_r, alpha_word_frac_r, symbol_word_ratio_r,
    n_stop_hits, keep) — the Gopher rules, verdict = every rule passes:
    50 <= words <= 100k; mean word length in [3, 10]; <90% of lines
    bullet-led; <30% of lines ellipsis-ended; >=80% of words contain an
    alphabetic character; (# + ellipsis)-to-word ratio < 0.1; >=2 distinct
    hits from the 8-word function-word list. Alphabetic = [a-z] after the
    tokenizer's lowercasing (documented ASCII approximation)."""
    toks = tokenize(F.col(text_col))
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
        toks.alias("_toks"))
    n_words = F.size("_toks")
    sum_len = F.aggregate(F.transform("_toks", lambda w: F.length(w)),
                          F.lit(0), lambda a, x: a + x)
    mean_len = _ratio(sum_len, n_words)
    lines = F.filter(
        F.transform(F.split(F.col("_t"), "\n"), lambda t: F.trim(t)),
        lambda x: x != "")
    n_lines = F.size(lines)
    bullet = F.size(F.filter(lines, lambda x: F.lit(False) | (
        F.substring(x, 1, 1).isin(list(_GOPHER_BULLETS)))))
    ellipsis = F.size(F.filter(
        lines, lambda x: x.endswith("...") | x.endswith("…")))
    bullet_frac = _ratio(bullet, n_lines)
    ellipsis_frac = _ratio(ellipsis, n_lines)
    alpha = F.size(F.filter("_toks", lambda w: w.rlike("[a-z]")))
    alpha_frac = _ratio(alpha, n_words)
    # occurrence counts by length delta — no regex in the hot path
    hashes = F.length("_t") - F.length(F.replace(F.col("_t"), F.lit("#"), F.lit("")))
    dots = (F.length("_t")
            - F.length(F.replace(F.col("_t"), F.lit("..."), F.lit("")))) / 3
    uni_ell = F.length("_t") - F.length(
        F.replace(F.col("_t"), F.lit("…"), F.lit("")))
    symbol_ratio = _ratio((hashes + dots + uni_ell).cast("int"), n_words)
    stop_hits = sum(
        (F.when(F.array_contains("_toks", w), 1).otherwise(0)
         for w in GOPHER_STOPWORDS), F.lit(0))
    mean_len_r = F.round(mean_len, 6)
    bullet_r = F.round(bullet_frac, 6)
    ellipsis_r = F.round(ellipsis_frac, 6)
    alpha_r = F.round(alpha_frac, 6)
    symbol_r = F.round(symbol_ratio, 6)
    keep = ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
            & (mean_len_r >= GOPHER_MIN_MEAN_WORD_LEN)
            & (mean_len_r <= GOPHER_MAX_MEAN_WORD_LEN)
            & (bullet_r < GOPHER_MAX_BULLET_LINE_FRAC)
            & (ellipsis_r < GOPHER_MAX_ELLIPSIS_LINE_FRAC)
            & (alpha_r > GOPHER_MIN_ALPHA_WORD_FRAC)
            & (symbol_r < GOPHER_MAX_SYMBOL_WORD_RATIO)
            & (stop_hits >= GOPHER_MIN_STOPWORD_HITS))
    return d.select(
        "id", n_words.alias("n_words"),
        mean_len_r.alias("mean_word_len_r"),
        bullet_r.alias("bullet_line_frac_r"),
        ellipsis_r.alias("ellipsis_line_frac_r"),
        alpha_r.alias("alpha_word_frac_r"),
        symbol_r.alias("symbol_word_ratio_r"),
        stop_hits.alias("n_stop_hits"),
        keep.alias("keep"),
    )


def gopher_quality_sql(table_sql: str, id_expr: str = "id",
                       text_expr: str = "text") -> str:
    """DuckDB oracle twin of gopher_quality (same rules, same rounding)."""
    tok = tokenize_sql(text_expr)
    lines = (f"list_filter(list_transform(string_split({text_expr}, chr(10)), "
             f"t -> trim(t)), x -> x <> '')")
    bullets = ", ".join(f"'{b}'" for b in _GOPHER_BULLETS)
    stop_hits = " + ".join(
        f"CASE WHEN list_contains(_toks, '{w}') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPWORDS)
    return f"""
WITH _b AS (
  SELECT {id_expr} AS id, {text_expr} AS _t, {tok} AS _toks, {lines} AS _lines
  FROM {table_sql}
),
_m AS (
  SELECT id, _t, _toks, _lines,
    len(_toks) AS n_words,
    round(CASE WHEN len(_toks) > 0 THEN
      coalesce(list_sum(list_transform(_toks, w -> length(w))), 0)::DOUBLE
      / len(_toks) ELSE 0.0 END, 6) AS mean_word_len_r,
    round(CASE WHEN len(_lines) > 0 THEN
      len(list_filter(_lines, x -> substr(x, 1, 1) IN ({bullets})))::DOUBLE
      / len(_lines) ELSE 0.0 END, 6) AS bullet_line_frac_r,
    round(CASE WHEN len(_lines) > 0 THEN
      len(list_filter(_lines, x -> x LIKE '%...' OR x LIKE '%' || chr(8230)))::DOUBLE
      / len(_lines) ELSE 0.0 END, 6) AS ellipsis_line_frac_r,
    round(CASE WHEN len(_toks) > 0 THEN
      len(list_filter(_toks, w -> regexp_matches(w, '[a-z]')))::DOUBLE
      / len(_toks) ELSE 0.0 END, 6) AS alpha_word_frac_r,
    round(CASE WHEN len(_toks) > 0 THEN
      ((length(_t) - length(replace(_t, '#', '')))
       + (length(_t) - length(replace(_t, '...', ''))) // 3
       + (length(_t) - length(replace(_t, chr(8230), ''))))::INT::DOUBLE
      / len(_toks) ELSE 0.0 END, 6) AS symbol_word_ratio_r,
    ({stop_hits}) AS n_stop_hits
  FROM _b
)
SELECT id, n_words, mean_word_len_r, bullet_line_frac_r,
       ellipsis_line_frac_r, alpha_word_frac_r, symbol_word_ratio_r,
       n_stop_hits,
       (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
        AND mean_word_len_r >= {GOPHER_MIN_MEAN_WORD_LEN}
        AND mean_word_len_r <= {GOPHER_MAX_MEAN_WORD_LEN}
        AND bullet_line_frac_r < {GOPHER_MAX_BULLET_LINE_FRAC}
        AND ellipsis_line_frac_r < {GOPHER_MAX_ELLIPSIS_LINE_FRAC}
        AND alpha_word_frac_r > {GOPHER_MIN_ALPHA_WORD_FRAC}
        AND symbol_word_ratio_r < {GOPHER_MAX_SYMBOL_WORD_RATIO}
        AND n_stop_hits >= {GOPHER_MIN_STOPWORD_HITS}) AS keep
FROM _m
"""


# --- full MassiveText n-gram repetition family (r7) ---------------------------
# Completes repetition_stats' rule set with the remaining published rules
# (Rae et al. 2021, Table A1): top n-gram character coverage for n=3,4
# (same sorted-run argmax-free rule as the existing top-2), and duplicated
# n-gram coverage for the n=5 and n=10 endpoints — the fraction of TOKEN
# positions covered by at least one n-gram occurring >= 2 times in the
# document, computed as an exact interval union over duplicated window
# starts (no double counting of overlaps, per the paper's care; coverage
# is token-positional rather than character-weighted, a documented
# deviation that keeps the union exact in pure Column expressions).
# Everything is sort-based: O(g log g) per document, no UDF, no shuffle.

REP_TOP_3GRAM_MAX = 0.18
REP_TOP_4GRAM_MAX = 0.16
REP_DUP_5GRAM_MAX = 0.15
REP_DUP_10GRAM_MAX = 0.10


def _int_seq(n: Column) -> Column:
    # ANSI-safe 1..n (sequence(1, 0) would count DOWN)
    return F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.array().cast("array<int>"))


def _starts_col(sg: Column) -> Column:
    """Run-start indices of a SORTED array column (an attribute — lambdas
    may reference it freely, it is evaluated once per row)."""
    elg = lambda i: F.element_at(sg, i)  # noqa: E731
    return F.filter(
        _int_seq(F.size(sg)),
        lambda i: (i == 1) | (elg(i) != elg(F.greatest(i - 1, F.lit(1)))))


def _dup_pos_col(sp: Column) -> Column:
    """Sorted positions whose gram has an equal neighbor in the sorted
    (gram, pos) pair array (i.e. document frequency >= 2)."""
    ln = F.size(sp)
    pg = lambda i: F.element_at(sp, i)["g"]  # noqa: E731
    raw = F.transform(
        _int_seq(ln),
        lambda i: F.when(
            ((i > 1) & (pg(F.greatest(i - 1, F.lit(1))) == pg(i)))
            | ((i < ln) & (pg(F.least(i + 1, ln)) == pg(i))),
            F.element_at(sp, i)["p"]))
    return F.array_sort(F.filter(raw, lambda x: x.isNotNull()))


def _top_frac_col(st: Column, sg: Column, stream_chars: Column,
                  n_toks: Column, n: int) -> Column:
    ng = F.size(sg)
    run_cover = F.transform(
        st,
        lambda a, i: F.when(
            F.coalesce(F.try_element_at(st, i + 2), ng + 1) - a > 1,
            (F.coalesce(F.try_element_at(st, i + 2), ng + 1) - a)
            * F.length(F.element_at(sg, a))).otherwise(F.lit(0)))
    top = F.coalesce(F.array_max(run_cover), F.lit(0))
    return F.round(
        F.when(n_toks >= n, _ratio(top, stream_chars)).otherwise(F.lit(0.0)), 6)


def _dup_frac_col(dp: Column, n_toks: Column, n: int) -> Column:
    gaps = F.transform(
        dp,
        lambda p, i: F.least(
            F.lit(n), F.coalesce(F.try_element_at(dp, i + 2), p + n) - p))
    covered = F.aggregate(gaps, F.lit(0), lambda a, x: a + x)
    return F.round(
        F.when(n_toks >= n, _ratio(covered, n_toks)).otherwise(F.lit(0.0)), 6)


def repetition_stats_full(df: DataFrame, id_col: str = "id",
                          text_col: str = "text") -> DataFrame:
    """(id, top_2gram_frac_r, top_3gram_frac_r, top_4gram_frac_r,
    dup_5gram_frac_r, dup_10gram_frac_r, repetitive_ngram) — the complete
    published n-gram repetition rule family; composes with
    repetition_stats (duplicate-line rules) for the full MassiveText
    stack. STAGED projections: every sorted array becomes a named column
    before anything indexes into it — a lambda that subscripts an inlined
    sort expression re-executes the sort per element (O(g^2 log g) per
    doc, measured in minutes over the 500-doc fixture), while an
    attribute reference is evaluated once per row."""
    from flouds_vectordb_spark.functions.hashing import shingles

    toks = tokenize(F.col(text_col))
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), toks.alias("_toks"))
    d = d.select(
        "id", F.size("_toks").alias("_n"),
        F.length(F.array_join("_toks", " ")).alias("_sc"),
        *[F.array_sort(shingles(F.col("_toks"), n=n)).alias(f"_sg{n}")
          for n in (2, 3, 4)],
        *[shingles(F.col("_toks"), n=n).alias(f"_g{n}") for n in (5, 10)])
    def _pairs_for(n: int) -> Column:
        gcol = F.col(f"_g{n}")  # closure, NOT a lambda default — a second
        # lambda parameter would flip Spark to (element, index) arity
        return F.array_sort(F.transform(
            _int_seq(F.size(gcol)),
            lambda i: F.struct(F.element_at(gcol, i).alias("g"),
                               i.alias("p")))).alias(f"_sp{n}")

    d = d.select(
        "id", "_n", "_sc", "_sg2", "_sg3", "_sg4",
        *[_pairs_for(n) for n in (5, 10)])
    d = d.select(
        "id", "_n", "_sc", "_sg2", "_sg3", "_sg4",
        *[_starts_col(F.col(f"_sg{n}")).alias(f"_st{n}") for n in (2, 3, 4)],
        *[_dup_pos_col(F.col(f"_sp{n}")).alias(f"_dp{n}") for n in (5, 10)])
    tops = {n: _top_frac_col(F.col(f"_st{n}"), F.col(f"_sg{n}"),
                             F.col("_sc"), F.col("_n"), n)
            for n in (2, 3, 4)}
    dups = {n: _dup_frac_col(F.col(f"_dp{n}"), F.col("_n"), n)
            for n in (5, 10)}
    rep = ((tops[2] > REP_TOP_2GRAM_MAX) | (tops[3] > REP_TOP_3GRAM_MAX)
           | (tops[4] > REP_TOP_4GRAM_MAX) | (dups[5] > REP_DUP_5GRAM_MAX)
           | (dups[10] > REP_DUP_10GRAM_MAX))
    return d.select(
        "id",
        tops[2].alias("top_2gram_frac_r"), tops[3].alias("top_3gram_frac_r"),
        tops[4].alias("top_4gram_frac_r"), dups[5].alias("dup_5gram_frac_r"),
        dups[10].alias("dup_10gram_frac_r"), rep.alias("repetitive_ngram"))


def repetition_stats_full_sql(table_sql: str, id_expr: str = "id",
                              text_expr: str = "text") -> str:
    """DuckDB oracle twin of repetition_stats_full (1-based list lambdas
    replace Spark's 0-based-index + try_element_at idioms)."""
    from flouds_vectordb_spark.functions.hashing import shingles_sql

    tok = tokenize_sql(text_expr)

    # Staged CTEs: every sorted list is MATERIALIZED as a named column and
    # referenced by name downstream — inlining the sort expression n times
    # re-executes it n times per row (measured: minutes over the 500-doc
    # fixture vs seconds staged). Columns also sidestep DuckDB's lambda-
    # variable capture hazard: a subscript like
    # `(expr-with-its-own-i-lambda)[i+1]` resolves `i` against the WRONG
    # binding when names collide (measured: gaps [1,5,1,5] -> [0,0,0,5]),
    # so outer folds still use distinct aa/jj and pp/ii names.
    tops, dups = (2, 3, 4), (5, 10)
    sort_cols = ", ".join(
        f"list_sort({shingles_sql('_toks', n=n)}) AS _sg{n}" for n in tops)
    pair_cols = ", ".join(
        f"list_sort(list_transform(generate_series(1, len({shingles_sql('_toks', n=n)})), "
        f"i -> struct_pack(g := ({shingles_sql('_toks', n=n)})[i], p := i))) AS _sp{n}"
        for n in dups)
    start_cols = ", ".join(
        f"list_filter(generate_series(1, len(_sg{n})), "
        f"i -> i = 1 OR _sg{n}[i] <> _sg{n}[i-1]) AS _st{n}" for n in tops)
    dp_cols = ", ".join(
        f"list_sort(list_filter(list_transform(generate_series(1, len(_sp{n})), "
        f"i -> CASE WHEN (i > 1 AND _sp{n}[i-1].g = _sp{n}[i].g) "
        f"OR (i < len(_sp{n}) AND _sp{n}[i+1].g = _sp{n}[i].g) "
        f"THEN _sp{n}[i].p END), x -> x IS NOT NULL)) AS _dp{n}" for n in dups)
    top_cols = ", ".join(f"""
    round(CASE WHEN len(_toks) >= {n} AND stream_chars > 0 THEN
      coalesce(list_max(list_transform(_st{n},
        (aa, jj) -> CASE WHEN coalesce(_st{n}[jj+1], len(_sg{n}) + 1) - aa > 1
          THEN (coalesce(_st{n}[jj+1], len(_sg{n}) + 1) - aa)
               * length(_sg{n}[aa]) ELSE 0 END)), 0)::DOUBLE / stream_chars
      ELSE 0.0 END, 6) AS top_{n}gram_frac_r""" for n in tops)
    dup_cols = ", ".join(f"""
    round(CASE WHEN len(_toks) >= {n} THEN
      coalesce(list_sum(list_transform(_dp{n},
        (pp, ii) -> least({n}, coalesce(_dp{n}[ii+1], pp + {n}) - pp))),
        0)::DOUBLE / len(_toks)
      ELSE 0.0 END, 6) AS dup_{n}gram_frac_r""" for n in dups)
    return f"""
WITH _b AS (
  SELECT {id_expr} AS id, {tok} AS _toks FROM {table_sql}
),
_m AS (
  SELECT id, _toks, length(array_to_string(_toks, ' ')) AS stream_chars,
         {sort_cols}, {pair_cols}
  FROM _b
),
_s AS (
  SELECT id, _toks, stream_chars, _sg2, _sg3, _sg4,
         {start_cols}, {dp_cols}
  FROM _m
),
_f AS (
  SELECT id, {top_cols}, {dup_cols} FROM _s
)
SELECT id, top_2gram_frac_r, top_3gram_frac_r, top_4gram_frac_r,
       dup_5gram_frac_r, dup_10gram_frac_r,
       (top_2gram_frac_r > {REP_TOP_2GRAM_MAX}
        OR top_3gram_frac_r > {REP_TOP_3GRAM_MAX}
        OR top_4gram_frac_r > {REP_TOP_4GRAM_MAX}
        OR dup_5gram_frac_r > {REP_DUP_5GRAM_MAX}
        OR dup_10gram_frac_r > {REP_DUP_10GRAM_MAX}) AS repetitive_ngram
FROM _f
"""


# --- C4 line/page cleaning (r7) -----------------------------------------------
# The published C4 cleaning heuristics (Raffel et al. 2020, §2.2) as one
# single-scan operator: line-level retention (terminal punctuation, >= 5
# words, no "javascript") and page-level drops (lorem ipsum, curly brace,
# < 3 sentences after line filtering — sentence count approximated as
# terminal-punctuation occurrences in the retained text, a documented
# deterministic proxy for the paper's sentence splitter). The policy
# badword list is a pluggable parameter (the published filter uses an
# external blocklist; the default here is empty = rule disabled).

C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
_C4_TERMINALS = (".", "!", "?", '"')


def c4_clean(df: DataFrame, id_col: str = "id", text_col: str = "text",
             badwords: tuple = ()) -> DataFrame:
    """(id, text_clean, n_lines_kept, n_lines_dropped, n_sentences,
    keep_page): C4's line filter + page-drop rules. text_clean joins the
    retained lines with newlines; keep_page is False for pages with
    lorem ipsum / '{' / a badword / fewer than 3 sentences retained."""
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    lines = F.filter(
        F.transform(F.split(F.col("_t"), "\n"), lambda t: F.trim(t)),
        lambda x: x != "")
    d = d.select("id", "_t", lines.alias("_lines"))

    def _line_ok(x: Column) -> Column:
        terminal = F.lit(False)
        for t in _C4_TERMINALS:
            terminal = terminal | x.endswith(t)
        n_words = F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))
        return (terminal & (n_words >= C4_MIN_LINE_WORDS)
                & ~F.lower(x).contains("javascript"))

    kept = F.filter(F.col("_lines"), _line_ok)
    d = d.select("id", "_t", "_lines", kept.alias("_kept"))
    clean = F.array_join(F.col("_kept"), "\n")
    n_sent = F.lit(0)
    for t in (".", "!", "?"):
        n_sent = n_sent + (F.length(clean)
                           - F.length(F.replace(clean, F.lit(t), F.lit(""))))
    low = F.lower(F.col("_t"))
    bad = F.lit(False)
    for w in badwords:
        bad = bad | low.contains(w.lower())
    keep_page = (~low.contains("lorem ipsum") & ~F.col("_t").contains("{")
                 & ~bad & (n_sent >= C4_MIN_SENTENCES))
    return d.select(
        "id", clean.alias("text_clean"),
        F.size("_kept").alias("n_lines_kept"),
        (F.size("_lines") - F.size("_kept")).alias("n_lines_dropped"),
        n_sent.alias("n_sentences"),
        keep_page.alias("keep_page"))


def c4_clean_sql(table_sql: str, id_expr: str = "id",
                 text_expr: str = "text", badwords: tuple = ()) -> str:
    """DuckDB oracle twin of c4_clean."""
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    lines = (f"list_filter(list_transform(string_split({text_expr}, chr(10)), "
             f"t -> trim(t)), x -> x <> '')")
    terminal = " OR ".join(
        "x LIKE '%' || " + ("chr(34)" if t == '"' else f"'{esc(t)}'")
        for t in _C4_TERMINALS)
    line_ok = (f"({terminal}) AND "
               f"len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) "
               f">= {C4_MIN_LINE_WORDS} "
               f"AND NOT contains(lower(x), 'javascript')")
    n_sent = " + ".join(
        f"(length(_clean) - length(replace(_clean, '{esc(t)}', '')))"
        for t in (".", "!", "?"))
    bad = " OR ".join(
        f"contains(lower(_t), '{esc(w.lower())}')" for w in badwords) or "FALSE"
    return f"""
WITH _b AS (
  SELECT {id_expr} AS id, {text_expr} AS _t, {lines} AS _lines FROM {table_sql}
),
_k AS (
  SELECT id, _t, _lines, list_filter(_lines, x -> {line_ok}) AS _kept FROM _b
),
_c AS (
  SELECT id, _t, _lines, _kept,
         coalesce(array_to_string(_kept, chr(10)), '') AS _clean
  FROM _k
)
SELECT id, _clean AS text_clean,
       len(_kept) AS n_lines_kept,
       len(_lines) - len(_kept) AS n_lines_dropped,
       ({n_sent}) AS n_sentences,
       (NOT contains(lower(_t), 'lorem ipsum') AND NOT contains(_t, '{{')
        AND NOT ({bad}) AND ({n_sent}) >= {C4_MIN_SENTENCES}) AS keep_page
FROM _c
"""


# --- unigram LM cross-entropy (r8): the CCNet-style perplexity proxy ------------

def unigram_logprob(df: DataFrame, model_df: DataFrame | None = None,
                    id_col: str = "id", text_col: str = "text",
                    smoothing: int = 1, keep_empty: bool = True) -> DataFrame:
    """(id, n_tokens, bits_per_token_r): per-document cross-entropy under
    an add-k-smoothed unigram language model — the cheap, fully
    distributable proxy for the CCNet / Wenzek et al. 2020 perplexity
    filter (there a KenLM 5-gram; at 100 TB the unigram pass is the
    triage stage that needs no model artifact because the corpus IS the
    model). Lower bits/token = more predictable text (boilerplate,
    repetition); very high = noise/garbage — both tails get filtered.

    model_df: optional (term, cnt) counts to score AGAINST (a held-out or
    reference corpus); defaults to df itself (self-scoring). Unseen terms
    take the smoothed OOV probability, so scoring never degenerates.

    Plan (reshaped for r9 VERDICT ask #5 — text_ppl_buckets' gate wall
    was dominated by barriers and redundant scans, not arithmetic):
    - the (id, term) count agg is computed FIRST; when self-scoring
      (model_df None) the model derives from it by a tiny second agg
      (sum of integer per-doc counts == direct occurrence counts), so
      the corpus is tokenized and explode-shuffled ONCE, not twice;
    - the model is PERSISTED and consumed twice inside the caller's
      action — as the broadcast term join and as a 1-row denominator
      aggregate (N + a·(V+1)) riding in on a broadcast cross join. No
      driver action: the old shape collected the two totals as
      literals, a mid-plan barrier. The denominator arithmetic (exact
      integer counts converted to double, < 2^53) matches the old
      literal bit-for-bit;
    - keep_empty=False skips the zero-token rejoin (the left join back
      to the full id list) for callers that drop those rows anyway
      (perplexity_buckets: zero-token docs have undefined entropy).
    Scoring is scalars only — the text never shuffles — and a per-doc
    fold over the TERM-SORTED contribution list, the same
    deterministic-order trick every scored gate uses, so the result is
    bit-stable across partitionings and engines.
    p(t) = (cnt + a) / (N + a·(V+1)); OOV = a / (N + a·(V+1)).

    Small-corpus regime (r12, regime.fits on SMALL_BYTES, the leaf-bytes
    switch): when every scan under the plan fits in
    64 MB the whole vocabulary fits in one broadcast row, so the operator
    collapses to a single lazy plan — the model is ONE (map, denom) row
    cross-joined in by broadcast, and each document folds its own SORTED
    token array with a run-length struct accumulator (aggregate merge +
    finish), adding cnt·log2(p) per distinct term in ascending term
    order. That is arithmetic-identical to the large regime's
    term-sorted collect_list fold (same contributions, same order, same
    0.0 start — contributions are strictly negative so 0.0 + c == c),
    but with ZERO persists, ZERO mid-plan actions, and the only shuffle
    the tiny term-count agg feeding the broadcast. Gate-scale wall
    dropped ~2.2 s -> ~0.6 s; at 100 TB the leaf check fails and the
    distributed shape runs unchanged."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if regime.fits(df, regime.SMALL_BYTES) and (
            model_df is None or regime.fits(model_df, regime.SMALL_BYTES)):
        return _unigram_logprob_small(df, model_df, id_col, text_col, a,
                                      keep_empty)
    toks = tokenize(F.col(text_col))
    d = spread_small_input(df).select(F.col(id_col).alias("id"), toks.alias("_toks"))
    per_term_counts = (
        d.select("id", F.size("_toks").alias("_n"), F.explode("_toks").alias("term"))
        .groupBy("id", "_n", "term").count()
    )
    if model_df is None:
        per_term_counts = _tracked_persist(per_term_counts)
        model = per_term_counts.groupBy("term").agg(
            F.sum("count").alias("_cnt"))
    else:
        model = (spread_small_input(model_df)
                 .select(F.explode(tokenize(F.col(text_col))).alias("term"))
                 .groupBy("term").count().withColumnRenamed("count", "_cnt"))
    model = _tracked_persist(model)
    stats = model.agg(
        (F.coalesce(F.sum("_cnt"), F.lit(0)).cast("double")
         + F.lit(float(a)) * (F.count("*") + F.lit(1)).cast("double"))
        .alias("_denom"))
    per_term = (
        per_term_counts
        .join(F.broadcast(model), "term", "left")
        .crossJoin(F.broadcast(stats))
        .select(
            "id", "_n", "term",
            (F.col("count").cast("double")
             * F.log2((F.coalesce(F.col("_cnt"), F.lit(0)).cast("double") + a)
                      / F.col("_denom"))).alias("_contrib"))
    )
    folded = per_term.groupBy("id", "_n").agg(
        F.aggregate(F.array_sort(F.collect_list(F.struct("term", "_contrib"))),
                    F.lit(0.0), lambda acc, e: acc + e["_contrib"]).alias("_lp"))
    bits = F.round(-F.col("_lp") / F.col("_n"), 4).alias("bits_per_token_r")
    if not keep_empty:
        return folded.select("id", F.col("_n").alias("n_tokens"), bits)
    scored = d.select("id").join(folded, "id", "left")
    return scored.select(
        "id", F.coalesce(F.col("_n"), F.lit(0)).alias("n_tokens"), bits)


def _unigram_logprob_small(df: DataFrame, model_df: DataFrame | None,
                           id_col: str, text_col: str, a: int,
                           keep_empty: bool) -> DataFrame:
    """Broadcast-map regime of unigram_logprob (see its docstring).

    The per-doc fold is ONE aggregate() over array_sort(tokens) — the
    sorted array is a direct HOF *argument*, so Catalyst evaluates it
    once per row (the element_at(expr, i)-in-lambda re-evaluation trap
    does not apply). The struct accumulator (s=sum, p=current term,
    c=run length) closes a run — adds c·log2((cnt(p)+a)/denom) — exactly
    when the next distinct term arrives, and finish() closes the last
    run, so additions happen in ascending term order: bit-identical to
    the large regime and the DuckDB twin's ORDER BY term list_reduce."""
    model_src = model_df if model_df is not None else df
    term_counts = (
        spread_small_input(model_src)
        .select(F.explode(tokenize(F.col(text_col))).alias("term"))
        .groupBy("term").count())
    # one row: the whole vocab as a map + the smoothing denominator
    # (identical arithmetic to the large regime's _stats agg)
    model_row = term_counts.agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "count"))).alias("_m"),
        (F.coalesce(F.sum("count"), F.lit(0)).cast("double")
         + F.lit(float(a)) * (F.count("*") + F.lit(1)).cast("double"))
        .alias("_denom"))
    # NULL text coalesces to an empty token array so n_tokens = 0 and
    # bits NULL — matching the large regime's left-join rejoin
    # (coalesce(_n, 0)) and the DuckDB twin (r12 ADVICE medium).
    d = (spread_small_input(df)
         .select(F.col(id_col).alias("id"),
                 F.coalesce(tokenize(F.col(text_col)),
                            F.array().cast("array<string>")).alias("_toks")))
    if not keep_empty:
        d = d.filter(F.size("_toks") > 0)
    d = d.crossJoin(F.broadcast(model_row))

    def _contrib(term, cnt):
        # (coalesce(cnt, 0)::double + a) / denom — the large regime's
        # expression with the broadcast join replaced by a map lookup
        # (try_element_at: ANSI-safe NULL for OOV terms)
        return cnt.cast("double") * F.log2(
            (F.coalesce(F.try_element_at(F.col("_m"), term), F.lit(0))
             .cast("double") + F.lit(a)) / F.col("_denom"))

    acc0 = F.struct(F.lit(0.0).alias("s"),
                    F.lit(None).cast("string").alias("p"),
                    F.lit(0).cast("bigint").alias("c"))

    def _merge(acc, t):
        return (
            F.when(acc["c"] == 0,
                   F.struct(acc["s"].alias("s"), t.alias("p"),
                            F.lit(1).cast("bigint").alias("c")))
            .when(acc["p"] == t,
                  F.struct(acc["s"].alias("s"), acc["p"].alias("p"),
                           (acc["c"] + 1).alias("c")))
            .otherwise(
                F.struct((acc["s"] + _contrib(acc["p"], acc["c"])).alias("s"),
                         t.alias("p"),
                         F.lit(1).cast("bigint").alias("c"))))

    def _finish(acc):
        return F.when(acc["c"] == 0, F.lit(None).cast("double")).otherwise(
            acc["s"] + _contrib(acc["p"], acc["c"]))

    lp = F.aggregate(F.array_sort(F.col("_toks")), acc0, _merge, _finish)
    n = F.size("_toks")
    return d.select(
        "id", n.alias("n_tokens"),
        F.round(-lp / n.cast("double"), 4).alias("bits_per_token_r"))


def unigram_logprob_sql(table_sql: str, model_sql: str | None = None,
                        id_expr: str = "id", text_expr: str = "text",
                        smoothing: int = 1) -> str:
    """DuckDB oracle twin of unigram_logprob: same counts, same smoothed
    probabilities, same term-sorted left fold (DuckDB list_reduce over a
    term-ordered list starts at the first element where Spark's aggregate
    starts at literal 0.0 — bitwise identical because every contribution
    is strictly negative, so 0.0 + c == c)."""
    a = int(smoothing)
    src = model_sql if model_sql is not None else table_sql
    tok = tokenize_sql(text_expr)
    return f"""
WITH _model AS (
  SELECT term, count(*) AS _cnt FROM (
    SELECT unnest({tok}) AS term FROM {src}
  ) GROUP BY term
),
_stats AS (
  SELECT coalesce(sum(_cnt), 0)::DOUBLE + {a}.0 * (count(*) + 1) AS _denom
  FROM _model
),
_docs AS (
  SELECT {id_expr} AS id, {tok} AS _toks FROM {table_sql}
),
_per_term AS (
  SELECT id, _n, term,
         count(*)::DOUBLE * log2((coalesce(_cnt, 0)::DOUBLE + {a}) / _denom)
           AS _contrib
  FROM (
    SELECT id, len(_toks) AS _n, unnest(_toks) AS term FROM _docs
  ) LEFT JOIN _model USING (term), _stats
  GROUP BY id, _n, term, _cnt, _denom
),
_folded AS (
  SELECT id, _n,
         list_reduce(list(_contrib ORDER BY term), (x, y) -> x + y) AS _lp
  FROM _per_term GROUP BY id, _n
)
SELECT d.id,
       coalesce(_n, 0) AS n_tokens,
       round(-_lp / _n, 4) AS bits_per_token_r
FROM _docs d LEFT JOIN _folded ON d.id = _folded.id
"""


# --- interpolated bigram LM (r8): one order up from the unigram proxy ------------

_BOS = "<s>"


def _bigram_events(text_col: str):
    """(history, word) pairs for every token: position 1 gets the BOS
    history, position i>1 gets token i-1 — so n tokens yield n events."""
    toks = tokenize(F.col(text_col))
    # the empty-doc branch matters: ANSI element_at errors out-of-range,
    # and CASE WHEN is the guaranteed-lazy guard (same shape in the twin)
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.struct(
                F.when(i == 1, F.lit(_BOS))
                .otherwise(F.element_at(toks, i - 1)).alias("h"),
                F.element_at(toks, i).alias("w")))
    ).otherwise(F.array().cast("array<struct<h:string,w:string>>"))


def _bigram_events_sql(text_expr: str) -> str:
    tok = tokenize_sql(text_expr)
    return (
        f"CASE WHEN len({tok}) > 0 THEN "
        f"list_transform(generate_series(1, len({tok})), "
        f"i -> struct_pack(h := CASE WHEN i = 1 THEN '{_BOS}' "
        f"ELSE {tok}[i - 1] END, w := {tok}[i])) "
        f"ELSE [] END"
    )


def bigram_logprob(df: DataFrame, model_df: DataFrame | None = None,
                   lam: float = 0.9, id_col: str = "id",
                   text_col: str = "text", smoothing: int = 1) -> DataFrame:
    """(id, n_tokens, bits_per_token_r): per-document cross-entropy under a
    Jelinek-Mercer interpolated bigram LM — one order up from
    unigram_logprob toward CCNet's KenLM 5-gram, still model-artifact-free
    (the corpus is the model). p(w|h) = lam * c(h,w)/c(h) +
    (1-lam) * p_uni(w), where p_uni is the add-k-smoothed unigram and the
    ML term is 0 for unseen histories; the first token of every document
    scores against the BOS history, so n tokens yield n scored events and
    bits/token is comparable across document lengths.

    Plan shape mirrors unigram_logprob: the model is two count aggs
    (bigram events, unigram terms) + two scalar literals; scoring joins
    per-doc (h, w) counts to the model — scalars only, text never
    shuffles — and folds contributions in sorted (h, w) order, so results
    are bit-stable across partitionings and engines. At 100 TB the bigram
    model is too wide to broadcast: the (h, w) join is a plain shuffle
    join on the event key, map-side combined on both sides."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if not (0.0 < lam < 1.0):
        raise ValueError("lam must be in (0, 1)")
    src = model_df if model_df is not None else df
    events = _bigram_events(text_col)
    # persist: the event explode (the widest projection here) otherwise
    # re-evaluates for each of the three model aggs + the totals collect
    src_ev = _tracked_persist(
        spread_small_input(src)
        .select(F.explode(_bigram_events(text_col)).alias("_e"))
        .select(F.col("_e.h").alias("h"), F.col("_e.w").alias("w")))
    bi = src_ev.groupBy("h", "w").count().withColumnRenamed("count", "_cb")
    hist = src_ev.groupBy("h").count().withColumnRenamed("count", "_ch")
    uni = src_ev.groupBy("w").count().withColumnRenamed("count", "_cu")
    n_total, vocab = 0, 0
    for r in uni.agg(F.sum("_cu"), F.count("*")).collect():
        n_total, vocab = int(r[0] or 0), int(r[1])
    denom = float(n_total + a * (vocab + 1))
    d = spread_small_input(df).select(F.col(id_col).alias("id"),
                                      events.alias("_evs"),
                                      F.size(tokenize(F.col(text_col))).alias("_n"))
    p_uni = (F.coalesce(F.col("_cu"), F.lit(0)).cast("double") + a) / F.lit(denom)
    p_ml = F.coalesce(
        F.col("_cb").cast("double") / F.col("_ch").cast("double"), F.lit(0.0))
    per_ev = (
        d.filter(F.col("_n") > 0)
        .select("id", "_n", F.explode("_evs").alias("_e"))
        .select("id", "_n", F.col("_e.h").alias("h"), F.col("_e.w").alias("w"))
        .groupBy("id", "_n", "h", "w").count()
        .join(bi, ["h", "w"], "left").join(hist, "h", "left")
        .join(uni, "w", "left")
        .select("id", "_n", "h", "w",
                (F.col("count").cast("double")
                 * F.log2(F.lit(lam) * p_ml + F.lit(1.0 - lam) * p_uni))
                .alias("_contrib"))
    )
    folded = per_ev.groupBy("id", "_n").agg(
        F.aggregate(F.array_sort(F.collect_list(F.struct("h", "w", "_contrib"))),
                    F.lit(0.0), lambda acc, e: acc + e["_contrib"]).alias("_lp"))
    return d.select("id").join(folded, "id", "left").select(
        "id",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_tokens"),
        F.round(-F.col("_lp") / F.col("_n"), 4).alias("bits_per_token_r"),
    )


def bigram_logprob_sql(table_sql: str, model_sql: str | None = None,
                       lam: float = 0.9, id_expr: str = "id",
                       text_expr: str = "text", smoothing: int = 1) -> str:
    """DuckDB oracle twin: same counts, same interpolation expression tree,
    same (h, w)-sorted left fold (contributions strictly negative because
    p(w|h) < 1, so DuckDB's first-element fold start == Spark's 0.0)."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if not (0.0 < lam < 1.0):
        raise ValueError("lam must be in (0, 1)")
    src = model_sql if model_sql is not None else table_sql
    ev = _bigram_events_sql(text_expr)
    tok_n = f"len({tokenize_sql(text_expr)})"
    return f"""
WITH _src_ev AS (
  SELECT _e.h AS h, _e.w AS w FROM (
    SELECT unnest({ev}) AS _e FROM {src} WHERE {tok_n} > 0
  )
),
_bi AS (SELECT h, w, count(*) AS _cb FROM _src_ev GROUP BY h, w),
_hist AS (SELECT h, count(*) AS _ch FROM _src_ev GROUP BY h),
_uni AS (SELECT w, count(*) AS _cu FROM _src_ev GROUP BY w),
_stats AS (
  SELECT coalesce(sum(_cu), 0)::DOUBLE + {a}.0 * (count(*) + 1) AS _denom
  FROM _uni
),
_docs AS (
  SELECT {id_expr} AS id, {tok_n} AS _n, {ev} AS _evs FROM {table_sql}
),
_per_ev AS (
  SELECT id, _n, h, w,
         count(*)::DOUBLE * log2(
             {lam!r} * coalesce(_cb::DOUBLE / _ch::DOUBLE, 0.0)
             + {1.0 - lam!r} * ((coalesce(_cu, 0)::DOUBLE + {a}) / _denom))
           AS _contrib
  FROM (
    SELECT id, _n, _e.h AS h, _e.w AS w FROM (
      SELECT id, _n, unnest(_evs) AS _e FROM _docs WHERE _n > 0
    )
  )
  LEFT JOIN _bi USING (h, w) LEFT JOIN _hist USING (h)
  LEFT JOIN _uni USING (w), _stats
  GROUP BY id, _n, h, w, _cb, _ch, _cu, _denom
),
_folded AS (
  SELECT id, _n,
         list_reduce(list(_contrib ORDER BY h, w), (x, y) -> x + y) AS _lp
  FROM _per_ev GROUP BY id, _n
)
SELECT d.id,
       coalesce(d._n, 0) AS n_tokens,
       round(-_lp / d._n, 4) AS bits_per_token_r
FROM _docs d LEFT JOIN _folded ON d.id = _folded.id
"""


# --- interpolated trigram LM (r13): completes the CCNet LM-filter family --------
# CCNet's published rule scores documents under a KenLM 5-gram
# (Wenzek et al., LREC'20); the deterministic, model-artifact-free
# member of that family here is Jelinek-Mercer interpolation one more
# order up from bigram_logprob: unigram (r8) -> bigram (r8) -> trigram.


def _trigram_events(text_col: str):
    """(h2, h1, w) for every token: BOS-padded histories, so n tokens
    yield n events (pos 1: (<s>,<s>,w1); pos 2: (<s>,w1,w2); ...)."""
    toks = tokenize(F.col(text_col))
    return F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), F.size(toks)),
            lambda i: F.struct(
                F.when(i <= 2, F.lit(_BOS))
                .otherwise(F.element_at(toks, i - 2)).alias("h2"),
                F.when(i == 1, F.lit(_BOS))
                .otherwise(F.element_at(toks, i - 1)).alias("h1"),
                F.element_at(toks, i).alias("w")))
    ).otherwise(
        F.array().cast("array<struct<h2:string,h1:string,w:string>>"))


def _trigram_events_sql(text_expr: str) -> str:
    tok = tokenize_sql(text_expr)
    return (
        f"CASE WHEN len({tok}) > 0 THEN "
        f"list_transform(generate_series(1, len({tok})), "
        f"i -> struct_pack(h2 := CASE WHEN i <= 2 THEN '{_BOS}' "
        f"ELSE {tok}[i - 2] END, "
        f"h1 := CASE WHEN i = 1 THEN '{_BOS}' ELSE {tok}[i - 1] END, "
        f"w := {tok}[i])) "
        f"ELSE [] END"
    )


def trigram_logprob(df: DataFrame, model_df: DataFrame | None = None,
                    lam3: float = 0.7, lam2: float = 0.2,
                    id_col: str = "id", text_col: str = "text",
                    smoothing: int = 1) -> DataFrame:
    """(id, n_tokens, bits_per_token_r): per-document cross-entropy under
    a Jelinek-Mercer interpolated TRIGRAM LM. p(w|h2,h1) =
    lam3 * c(h2,h1,w)/c(h2,h1) + lam2 * c(h1,w)/c(h1)
    + (1-lam3-lam2) * p_uni(w), with the add-k-smoothed unigram floor
    keeping every event probability positive and ML terms 0 for unseen
    histories. One event per token (BOS-padded histories), so bits/token
    compares across lengths — the CCNet head/middle/tail split one model
    order short of their KenLM 5-gram, with the same sorted-fold
    determinism as the unigram/bigram members.

    Plan shape: ALL five model tables (tri, h2h1, bigram, h1, unigram
    counts) derive from ONE persisted exploded event projection — each a
    map-side-combined count agg — plus one scalar totals collect.
    Scoring joins per-doc distinct (h2,h1,w) counts to the five tables
    (scalars only; text never shuffles) and folds contributions in
    sorted (h2,h1,w) order: bit-stable across partitionings and engines.
    At 100 TB the model joins are plain shuffle joins on their keys; the
    event table is 3 strings/token — the honest trigram working set."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if not (0.0 < lam3 and 0.0 < lam2 and lam3 + lam2 < 1.0):
        raise ValueError("need lam3 > 0, lam2 > 0, lam3 + lam2 < 1")
    lam1 = 1.0 - lam3 - lam2
    src = model_df if model_df is not None else df
    src_ev = _tracked_persist(
        spread_small_input(src)
        .select(F.explode(_trigram_events(text_col)).alias("_e"))
        .select(F.col("_e.h2").alias("h2"), F.col("_e.h1").alias("h1"),
                F.col("_e.w").alias("w")))
    tri = src_ev.groupBy("h2", "h1", "w").count() \
        .withColumnRenamed("count", "_ct")
    h12 = src_ev.groupBy("h2", "h1").count().withColumnRenamed("count", "_c12")
    bg = src_ev.groupBy("h1", "w").count().withColumnRenamed("count", "_cbg")
    h1c = src_ev.groupBy("h1").count().withColumnRenamed("count", "_c1")
    uni = src_ev.groupBy("w").count().withColumnRenamed("count", "_cu")
    n_total, vocab = 0, 0
    for r in uni.agg(F.sum("_cu"), F.count("*")).collect():
        n_total, vocab = int(r[0] or 0), int(r[1])
    denom = float(n_total + a * (vocab + 1))
    d = spread_small_input(df).select(
        F.col(id_col).alias("id"), _trigram_events(text_col).alias("_evs"),
        F.size(tokenize(F.col(text_col))).alias("_n"))
    p_uni = (F.coalesce(F.col("_cu"), F.lit(0)).cast("double") + a) \
        / F.lit(denom)
    p3 = F.coalesce(
        F.col("_ct").cast("double") / F.col("_c12").cast("double"),
        F.lit(0.0))
    p2 = F.coalesce(
        F.col("_cbg").cast("double") / F.col("_c1").cast("double"),
        F.lit(0.0))
    per_ev = (
        d.filter(F.col("_n") > 0)
        .select("id", "_n", F.explode("_evs").alias("_e"))
        .select("id", "_n", F.col("_e.h2").alias("h2"),
                F.col("_e.h1").alias("h1"), F.col("_e.w").alias("w"))
        .groupBy("id", "_n", "h2", "h1", "w").count()
        .join(tri, ["h2", "h1", "w"], "left")
        .join(h12, ["h2", "h1"], "left")
        .join(bg, ["h1", "w"], "left")
        .join(h1c, "h1", "left")
        .join(uni, "w", "left")
        .select("id", "_n", "h2", "h1", "w",
                (F.col("count").cast("double")
                 * F.log2(F.lit(lam3) * p3 + F.lit(lam2) * p2
                          + F.lit(lam1) * p_uni)).alias("_contrib"))
    )
    folded = per_ev.groupBy("id", "_n").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("h2", "h1", "w",
                                                 "_contrib"))),
            F.lit(0.0), lambda acc, e: acc + e["_contrib"]).alias("_lp"))
    return d.select("id").join(folded, "id", "left").select(
        "id",
        F.coalesce(F.col("_n"), F.lit(0)).alias("n_tokens"),
        F.round(-F.col("_lp") / F.col("_n"), 4).alias("bits_per_token_r"),
    )


def trigram_logprob_sql(table_sql: str, model_sql: str | None = None,
                        lam3: float = 0.7, lam2: float = 0.2,
                        id_expr: str = "id", text_expr: str = "text",
                        smoothing: int = 1) -> str:
    """DuckDB oracle twin: same counts, same interpolation tree, same
    (h2, h1, w)-sorted left fold (contributions strictly negative, so
    DuckDB's first-element fold start == Spark's 0.0 start)."""
    a = int(smoothing)
    if a < 1:
        raise ValueError("smoothing must be >= 1")
    if not (0.0 < lam3 and 0.0 < lam2 and lam3 + lam2 < 1.0):
        raise ValueError("need lam3 > 0, lam2 > 0, lam3 + lam2 < 1")
    lam1 = 1.0 - lam3 - lam2
    src = model_sql if model_sql is not None else table_sql
    ev = _trigram_events_sql(text_expr)
    tok_n = f"len({tokenize_sql(text_expr)})"
    return f"""
WITH _src_ev AS (
  SELECT _e.h2 AS h2, _e.h1 AS h1, _e.w AS w FROM (
    SELECT unnest({ev}) AS _e FROM {src} WHERE {tok_n} > 0
  )
),
_tri AS (SELECT h2, h1, w, count(*) AS _ct FROM _src_ev GROUP BY h2, h1, w),
_h12 AS (SELECT h2, h1, count(*) AS _c12 FROM _src_ev GROUP BY h2, h1),
_bg AS (SELECT h1, w, count(*) AS _cbg FROM _src_ev GROUP BY h1, w),
_h1c AS (SELECT h1, count(*) AS _c1 FROM _src_ev GROUP BY h1),
_uni AS (SELECT w, count(*) AS _cu FROM _src_ev GROUP BY w),
_stats AS (
  SELECT coalesce(sum(_cu), 0)::DOUBLE + {a}.0 * (count(*) + 1) AS _denom
  FROM _uni
),
_docs AS (
  SELECT {id_expr} AS id, {tok_n} AS _n, {ev} AS _evs FROM {table_sql}
),
_per_ev AS (
  SELECT id, _n, h2, h1, w,
         count(*)::DOUBLE * log2(
             {lam3!r} * coalesce(_ct::DOUBLE / _c12::DOUBLE, 0.0)
             + {lam2!r} * coalesce(_cbg::DOUBLE / _c1::DOUBLE, 0.0)
             + {lam1!r} * ((coalesce(_cu, 0)::DOUBLE + {a}) / _denom))
           AS _contrib
  FROM (
    SELECT id, _n, _e.h2 AS h2, _e.h1 AS h1, _e.w AS w FROM (
      SELECT id, _n, unnest(_evs) AS _e FROM _docs WHERE _n > 0
    )
  )
  LEFT JOIN _tri USING (h2, h1, w) LEFT JOIN _h12 USING (h2, h1)
  LEFT JOIN _bg USING (h1, w) LEFT JOIN _h1c USING (h1)
  LEFT JOIN _uni USING (w), _stats
  GROUP BY id, _n, h2, h1, w, _ct, _c12, _cbg, _c1, _cu, _denom
),
_folded AS (
  SELECT id, _n,
         list_reduce(list(_contrib ORDER BY h2, h1, w), (x, y) -> x + y)
           AS _lp
  FROM _per_ev GROUP BY id, _n
)
SELECT d.id,
       coalesce(d._n, 0) AS n_tokens,
       round(-_lp / d._n, 4) AS bits_per_token_r
FROM _docs d LEFT JOIN _folded ON d.id = _folded.id
"""


# --- perplexity bucketing (r8): the CCNet head/middle/tail corpus split ----------

# bits/token quantization for the two-phase global rank: floor(bits * 16)
# buckets are monotone in bits, so bucket order == rank order; bits are
# bounded by -log2(p_oov) <= log2(N + a(V+1)) < 61, so there are at most
# ~16*61 non-empty buckets regardless of corpus size
_PPL_QUANT = 16


def perplexity_buckets(df: DataFrame, model_df: DataFrame | None = None,
                       n_buckets: int = 3, id_col: str = "id",
                       text_col: str = "text", smoothing: int = 1,
                       stratum_col: str | None = None) -> DataFrame:
    """(id[, stratum], n_tokens, bits_per_token_r, ppl_bucket): the CCNet
    corpus split (Wenzek et al. 2020) — rank every document by LM
    cross-entropy (unigram_logprob, lower = more predictable) and cut the
    ranking into n_buckets equal-by-rank bands; bucket 0 is CCNet's
    "head" (most fluent), the last is "tail". With stratum_col the
    ranking and the band cut run WITHIN each stratum — CCNet's actual
    rule is per-language. Zero-token documents are excluded (their
    cross-entropy is undefined). Band rule, identical integer arithmetic
    in both engines: bucket = min(((rank-1) * n_buckets) div n_stratum,
    n_buckets - 1) with rank ordered by (bits_per_token_r, id) — fully
    deterministic under ties.

    Scale shape (100 TB): a global (or per-stratum) rank is the textbook
    single-partition window. Instead, two-phase: (1) quantize bits to
    floor(bits*16) — a BOUNDED bucket key (<~1000 distinct values at any
    corpus size, see _PPL_QUANT) — and collect one count per (stratum,
    bucket); (2) the driver prefix-sums counts in bucket order into
    per-(stratum, bucket) base ranks and per-stratum totals
    (broadcast-joined literal table), and each row's rank is its base +
    an intra-bucket row_number — window partitions hold only ties within
    1/16th of a bit of one stratum. Scoring itself (unigram_logprob)
    shuffles scalars only."""
    from pyspark.sql import Window

    from flouds_vectordb_spark.functions.local import local_df

    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    spark = df.sparkSession
    # small-corpus regime (r12): the scorer is the lazy broadcast-map
    # plan and the rank is ONE window per stratum over scalar rows —
    # no persist, no mid-plan collect, one action total. The band rule
    # is the oracle's single-window formulation verbatim, so the
    # two-phase quantized rank below is (and always was) an execution
    # strategy only.
    if regime.fits(df, regime.SMALL_BYTES) and (
            model_df is None or regime.fits(model_df, regime.SMALL_BYTES)):
        scored = unigram_logprob(df, model_df, id_col=id_col,
                                 text_col=text_col, smoothing=smoothing,
                                 keep_empty=False)
        out_cols = ["id", "n_tokens", "bits_per_token_r"]
        if stratum_col is not None:
            strata = df.select(F.col(id_col).alias("id"),
                               F.col(stratum_col).alias(stratum_col))
            scored = scored.join(strata, "id").withColumn(
                "_sk", F.coalesce(F.col(stratum_col).cast("string"),
                                  F.lit("\x00")))
            out_cols.insert(1, stratum_col)
        else:
            scored = scored.withColumn("_sk", F.lit(""))
        w = Window.partitionBy("_sk").orderBy(
            F.col("bits_per_token_r").asc(), F.col("id").asc())
        wn = Window.partitionBy("_sk")
        return (
            scored
            .withColumn("_rk", F.row_number().over(w))
            .withColumn("_n", F.count("*").over(wn))
            .select(
                *out_cols,
                F.least(F.expr(f"(_rk - 1) * {n_buckets} div _n"),
                        F.lit(n_buckets - 1).cast("bigint"))
                .cast("int").alias("ppl_bucket")))
    # persist: the full unigram_logprob lineage (model agg + per-term join
    # + fold) otherwise re-executes for BOTH the counts collect below and
    # the final rank join
    # keep_empty=False: zero-token docs are excluded by contract (their
    # cross-entropy is undefined), so the scorer can skip the left-join
    # back to the full id list entirely
    scored = (unigram_logprob(df, model_df, id_col=id_col, text_col=text_col,
                              smoothing=smoothing, keep_empty=False)
              .withColumn("_qb", F.floor(F.col("bits_per_token_r")
                                         * F.lit(_PPL_QUANT)).cast("bigint")))
    scored = _tracked_persist(scored)
    out_cols = ["id", "n_tokens", "bits_per_token_r"]
    if stratum_col is not None:
        # join the stratum back (the scorer returns scalars only); the
        # internal key coalesces NULL strata to a sentinel so the
        # broadcast join below stays null-safe
        strata = df.select(F.col(id_col).alias("id"),
                           F.col(stratum_col).alias(stratum_col))
        scored = scored.join(strata, "id").withColumn(
            "_sk", F.coalesce(F.col(stratum_col).cast("string"),
                              F.lit("\x00")))
        out_cols.insert(1, stratum_col)
    else:
        scored = scored.withColumn("_sk", F.lit(""))
    counts = sorted(
        (str(r["_sk"]), int(r["_qb"]), int(r["_c"]))
        for r in scored.groupBy("_sk", "_qb")
        .agg(F.count("*").alias("_c")).collect())
    if not counts:
        schema = "id " + dict(df.dtypes)[id_col]
        if stratum_col is not None:
            schema += f", {stratum_col} " + dict(df.dtypes)[stratum_col]
        return spark.createDataFrame(
            [], schema + ", n_tokens int, bits_per_token_r double, "
            "ppl_bucket int")
    per_sk: dict = {}
    for sk, qb, c in counts:
        per_sk.setdefault(sk, []).append((qb, c))
    bases = []
    for sk, lst in per_sk.items():
        cum = 0
        total = sum(c for _, c in lst)
        for qb, c in lst:  # already qb-sorted within sk by the sort above
            bases.append((sk, qb, cum, total))
            cum += c
    base = F.broadcast(local_df(
        spark, bases, "_sk string, _qb bigint, _base bigint, _n bigint"))
    w = Window.partitionBy("_sk", "_qb").orderBy(
        F.col("bits_per_token_r").asc(), F.col("id").asc())
    return (
        scored.join(base, ["_sk", "_qb"])
        .withColumn("_rk", F.col("_base") + F.row_number().over(w))
        .select(
            *out_cols,
            F.least(F.expr(f"(_rk - 1) * {n_buckets} div _n"),
                    F.lit(n_buckets - 1).cast("bigint"))
            .cast("int").alias("ppl_bucket"))
    )


def perplexity_buckets_sql(table_sql: str, model_sql: str | None = None,
                           n_buckets: int = 3, id_expr: str = "id",
                           text_expr: str = "text", smoothing: int = 1,
                           stratum_expr: str | None = None) -> str:
    """DuckDB oracle twin: single-window formulation of the same band rule
    (row_number over ([stratum,] bits, id), count(*) over ([stratum]),
    identical integer division) — the two-phase Spark plan is an
    execution strategy only."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    inner = unigram_logprob_sql(table_sql, model_sql, id_expr=id_expr,
                                text_expr=text_expr, smoothing=smoothing)
    if stratum_expr is None:
        strat_sel, strat_join, part = "", "", ""
    else:
        strat_sel = f"_st.{stratum_expr}, "
        strat_join = (f" JOIN (SELECT {id_expr} AS id, {stratum_expr} "
                      f"FROM {table_sql}) _st USING (id)")
        part = f"PARTITION BY _st.{stratum_expr} "
    return f"""
WITH _scored AS ({inner}),
_r AS (
  SELECT id, {strat_sel}n_tokens, bits_per_token_r,
         row_number() OVER ({part}ORDER BY bits_per_token_r ASC, id ASC)
           AS _rk,
         count(*) OVER ({part.rstrip()}) AS _n
  FROM _scored{strat_join} WHERE n_tokens > 0
)
SELECT id, {strat_sel.replace('_st.', '')}n_tokens, bits_per_token_r,
       least((_rk - 1) * {n_buckets} // _n, {n_buckets - 1})::INT AS ppl_bucket
FROM _r
"""
