"""Per-group top-N (O7) and the text-function surface."""

from __future__ import annotations

from pyspark.sql import functions as F

from movie_data_etl_pipeline_spark.functions import text as TX
from movie_data_etl_pipeline_spark.operators import topn


def test_top_n_per_group_cap_and_order(spark):
    rows = [(g, i, g * 100 + i) for g in (1, 2) for i in (5, 3, 1, 4, 2)]
    df = spark.createDataFrame(rows, "g INT, ord INT, payload INT")
    out = topn.top_n_per_group(df, ["g"], [F.asc("ord")], n=3, rank_col="r")
    got = sorted((r["g"], r["ord"], r["r"]) for r in out.collect())
    assert got == [(1, 1, 1), (1, 2, 2), (1, 3, 3), (2, 1, 1), (2, 2, 2), (2, 3, 3)]


def test_top_cast_reference_shape(spark):
    rows = [(10, p, p, f"char{p}") for p in range(20)]
    df = spark.createDataFrame(
        rows, "tmdb_movie_id INT, tmdb_person_id INT, cast_order INT, character_name STRING"
    )
    out = topn.top_cast(df, n=15)
    assert out.count() == 15
    assert out.agg(F.max("cast_order")).first()[0] == 14


def _one(spark, expr):
    return spark.range(1).select(expr.alias("x")).first()["x"]


def test_shingles(spark):
    e = TX.shingles(F.lit("a b c d e"), 3)
    assert _one(spark, e) == ["a b c", "b c d", "c d e"]
    assert _one(spark, TX.shingles(F.lit("a b"), 3)) == []
    assert _one(spark, TX.shingles(F.lit("  a   b  c "), 2)) == ["a b", "b c"]


def test_tokens_and_bpe(spark):
    assert _one(spark, TX.tokens(F.lit(" foo  bar "))) == ["foo", "bar"]
    assert _one(spark, TX.bpe_ish_tokens(F.lit("abc123,x!"))) == ["abc", "123", ",", "x", "!"]


def test_fingerprint_normalizes(spark):
    a = _one(spark, TX.fingerprint(F.lit("Hello   World")))
    b = _one(spark, TX.fingerprint(F.lit("hello world ")))
    assert a == b


def test_lang_id_markers(spark):
    assert _one(spark, TX.lang_id(F.lit("der hund ist hier"))) == "de"
    assert _one(spark, TX.lang_id(F.lit("el niño es pequeño"))) == "es"
    assert _one(spark, TX.lang_id(F.lit("just plain words"))) == "en"
    assert _one(spark, TX.lang_id(F.lit("这是中文"))) == "zh"


def test_stratified_sample_exact_quota_and_determinism(spark, sf_dir):
    from movie_data_etl_pipeline_spark.operators.topn import stratified_sample_exact
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample_exact(docs, ["lang"], 5, "doc_id")
    per = {r["lang"]: r["n"] for r in out.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert per == {lang: min(5, n) for lang, n in sizes.items()}
    # hard quota + content-derived order → identical rerun
    a = {tuple(r) for r in out.select("doc_id").collect()}
    b = {tuple(r) for r in stratified_sample_exact(docs, ["lang"], 5, "doc_id").select("doc_id").collect()}
    assert a == b


def test_chunk_documents_lossless_and_bounded(spark, sf_dir):
    """Chunking invariants on the real corpus: reassembling a document's
    chunks in chunk_id order restores the whitespace-normalized text;
    every chunk respects max_chars unless it is a single oversized
    token; chunk ids are dense from 0."""
    from movie_data_etl_pipeline_spark.operators.text_analysis import chunk_documents
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    out = chunk_documents(spark, docs, max_chars=80).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    originals = {r.doc_id: r.text for r in docs.collect()}
    assert set(by_doc) == {d for d, t in originals.items() if t and t.split()}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        assert [r.chunk_id for r in rows] == list(range(len(rows)))
        assert " ".join(r.chunk for r in rows) == " ".join(originals[doc_id].split())
        for r in rows:
            assert r.chunk_chars == len(r.chunk)
            assert len(r.chunk) <= 80 or " " not in r.chunk


def test_pii_scrub_redacts_and_counts(spark):
    from movie_data_etl_pipeline_spark.operators.text_analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org, call 555-123-4567, host 10.0.0.1"),
            (2, "ssn 123-45-6789 plain text"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4, rows[1].n_ssn) == (2, 1, 1, 0)
    assert rows[1].scrubbed_text == "mail <EMAIL> and <EMAIL>, call <PHONE>, host <IPV4>"
    assert rows[2].n_ssn == 1 and rows[2].scrubbed_text == "ssn <SSN> plain text"
    assert rows[3].scrubbed_text == "nothing sensitive here"
    assert (rows[3].n_email, rows[3].n_phone, rows[3].n_ipv4, rows[3].n_ssn) == (0, 0, 0, 0)


def test_pii_scrub_overlap_counts_equal_placeholders(spark):
    """Audit invariant (r2 ADVICE #5): the per-pattern counts are taken
    against the progressively-scrubbed text, so a span consumed by an
    earlier pattern never double-counts — sum(n_*) == placeholders
    actually inserted, even for overlapping matches."""
    import re

    from movie_data_etl_pipeline_spark.operators.text_analysis import pii_scrub

    docs = spark.createDataFrame(
        [
            # the 1.2.3.4 is INSIDE the email match: email=1, ipv4 must be 0
            (1, "write user@1.2.3.4.com today"),
            # dotted phone whose prefix 555.123.4 could look ipv4-ish
            (2, "call 555.123.4567 or visit 10.0.0.1"),
            # ssn-shaped run adjacent to a phone-shaped run
            (3, "p 555-123-4567 s 123-45-6789"),
        ],
        "doc_id long, text string",
    )
    for r in pii_scrub(docs).collect():
        n_placeholders = len(re.findall(r"<(?:EMAIL|PHONE|IPV4|SSN)>", r.scrubbed_text))
        total = r.n_email + r.n_phone + r.n_ipv4 + r.n_ssn
        assert total == n_placeholders, (r.doc_id, total, n_placeholders, r.scrubbed_text)
    rows = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4) == (1, 0)
    assert (rows[2].n_phone, rows[2].n_ipv4) == (1, 1)
    assert (rows[3].n_phone, rows[3].n_ssn) == (1, 1)


def test_span_dedup_first_occurrence_wins(spark):
    from movie_data_etl_pipeline_spark.operators.text_analysis import span_dedup

    boiler = " ".join(f"b{i}" for i in range(10))  # one exact 10-token span
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_c = " ".join(f"c{i}" for i in range(5))  # trailing partial span
    docs = spark.createDataFrame(
        [
            (1, f"{uniq_a} {boiler}"),
            (2, f"{boiler} {uniq_c}"),  # leading span is a dup of doc 1's
            (3, boiler),  # entirely duplicate -> vanishes
            (4, ""),  # empty -> vanishes (no phantom spans)
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in span_dedup(docs, span_tokens=10).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_spans_kept == 2 and rows[1].dedup_text == f"{uniq_a} {boiler}"
    assert rows[2].n_spans_kept == 1 and rows[2].dedup_text == uniq_c


def test_pack_sequences_invariants(spark, sf_dir):
    from movie_data_etl_pipeline_spark.operators.text_analysis import pack_sequences
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = pack_sequences(docs, budget_tokens=64).collect()
    # every doc's bin contributions sum to its token count
    per_doc = {}
    per_bin = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.bin_tokens
        per_bin[r.bin_id] = per_bin.get(r.bin_id, 0) + r.bin_tokens
    n_by_doc = {r.doc_id: r.n_tokens for r in out}
    assert per_doc == n_by_doc
    # bins are dense 0..max and every bin except the last holds exactly 64
    assert set(per_bin) == set(range(max(per_bin) + 1))
    for b, tot in per_bin.items():
        assert tot == 64 or b == max(per_bin)
    # offsets are the exclusive prefix sum in doc_id order
    firsts = sorted({(r.doc_id, r.offset, r.n_tokens) for r in out})
    run = 0
    for _, off, n in firsts:
        assert off == run
        run += n


def test_pack_sequences_stable_without_exchange_reuse(spark, sf_dir):
    """The pid↔prefix mapping must NOT depend on Catalyst reusing the
    range exchange between the partition-totals branch and the offset
    join (r2 ADVICE #3): with reuse disabled the output must be
    byte-identical (per_doc is materialized once via localCheckpoint)."""
    from movie_data_etl_pipeline_spark.operators.text_analysis import pack_sequences
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    baseline = sorted(map(tuple, pack_sequences(docs, budget_tokens=64).collect()))
    spark.conf.set("spark.sql.exchange.reuse", "false")
    try:
        no_reuse = sorted(map(tuple, pack_sequences(docs, budget_tokens=64).collect()))
    finally:
        spark.conf.unset("spark.sql.exchange.reuse")
    assert baseline == no_reuse


def test_corpus_datacard_profiles_and_counts_dups(spark):
    from movie_data_etl_pipeline_spark.operators.text_analysis import corpus_datacard

    docs = spark.createDataFrame(
        [
            (1, "hello world", "en", "web", 11),
            (2, "HELLO   world", "en", "web", 13),  # dup after normalization
            (3, "three tokens here", "en", "web", 17),
            (4, "autre texte", "fr", "web", 11),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    rows = {(r.source, r.lang): r for r in corpus_datacard(docs).collect()}
    en = rows[("web", "en")]
    assert (en.n_docs, en.n_unique, en.n_exact_dups) == (3, 2, 1)
    assert en.total_tokens == 7 and en.max_tokens == 3
    assert rows[("web", "fr")].n_exact_dups == 0


def test_adaptive_quality_filter_floor_and_counts(spark, sf_dir):
    """Differential: the per-source floor must equal the ceil(n/4)-th
    smallest rounded score, and n_kept the docs at/above it."""
    from movie_data_etl_pipeline_spark.operators import text_analysis
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["source"]: r
        for r in text_analysis.adaptive_quality_filter(docs).collect()
    }
    scores = (
        text_analysis._doc_quality(docs, carry=("source",))
        .select("source", "quality")
        .collect()
    )
    by_src: dict[str, list[float]] = {}
    for r in scores:
        if r["quality"] is not None:
            by_src.setdefault(r["source"], []).append(r["quality"])
    assert set(got) == set(by_src)
    for src, qs in by_src.items():
        qs.sort()
        n = len(qs)
        k = -(-n // 4)  # ceil(n/4)
        floor = qs[k - 1]
        assert got[src]["n_docs"] == n
        assert got[src]["q_floor"] == floor
        assert got[src]["n_kept"] == sum(1 for q in qs if q >= floor)


def test_adaptive_quality_keep_matches_report(spark, sf_dir):
    """The row-filter form must keep exactly n_kept docs per source
    (report agreement), all at/above that source's floor."""
    from movie_data_etl_pipeline_spark.operators import text_analysis
    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    report = {
        r["source"]: r
        for r in text_analysis.adaptive_quality_filter(docs).collect()
    }
    kept = text_analysis.adaptive_quality_keep(docs, carry=("lang",)).collect()
    per_src: dict[str, int] = {}
    for r in kept:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
        assert r["quality"] >= report[r["source"]]["q_floor"]
        assert r["lang"] is not None and r["text"]  # carry + text survive
    assert per_src == {s: report[s]["n_kept"] for s in report}


def test_source_token_budget_prefix_property(spark, sf_dir):
    """Kept docs per source are exactly the greedy quality-ordered
    prefix that fits the budget: cumulative tokens never exceed the
    budget, and the best-quality excluded doc would not have fit."""
    from movie_data_etl_pipeline_spark.operators.text_analysis import (
        _doc_quality,
        source_token_budget,
    )

    from movie_data_etl_pipeline_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    budget = 600
    kept = source_token_budget(docs, budget_tokens=budget)
    rows = kept.collect()
    assert rows, "budget keeps at least some docs"
    assert all(r["cum_tokens"] <= budget for r in rows)
    # per-source: kept set == greedy prefix recomputed in Python
    scored = _doc_quality(docs, carry=("source",), with_n_tokens=True).collect()
    by_src: dict[str, list] = {}
    for r in scored:
        by_src.setdefault(r["source"], []).append(r)
    expect = set()
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (-r["quality"], r["doc_id"]))
        cum = 0
        for r in rs:
            cum += r["n_ws_tokens"]
            if cum > budget:
                break
            expect.add((src, r["doc_id"]))
    got = {(r["source"], r["doc_id"]) for r in rows}
    assert got == expect
