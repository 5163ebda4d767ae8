"""Composed training-pipeline tests (pipeline/training.py): the
language-aware quality gate (VERDICT r4 #3), PDF-source injection
(VERDICT r4 #7), and the taxonomy-aware resumable PDF ingest
(ADVICE r4 — permanent failures must not be retried forever)."""

import pytest
from pyspark.sql import functions as F


def _quality_rows(spark, docs):
    from smartreader_spark.pipeline.training import quality_token_stage

    df = spark.createDataFrame(docs, "doc_id string, text string")
    return {r.doc_id: r for r in quality_token_stage(df).collect()}


def test_quality_stage_language_aware(spark):
    """A Spanish doc must be graded against the Spanish stopword list:
    lang_guess='es' and a stopword_ratio English grading would miss."""
    # only 'que' overlaps the fr list; nothing overlaps en/de — a clean
    # Spanish argmax
    es_text = "el que y los del una casa verde grande pequena " * 6
    en_text = "the cat and the dog of a house in that it is for sale now " * 4
    rows = _quality_rows(
        spark, [("es-doc", es_text.strip()), ("en-doc", en_text.strip())]
    )
    assert set(rows) == {"es-doc", "en-doc"}  # both pass the gate
    assert rows["es-doc"].lang_guess == "es"
    assert rows["en-doc"].lang_guess == "en"
    # 6 of every 10 Spanish tokens are es stopwords
    assert rows["es-doc"].stopword_ratio > 0.4
    assert rows["en-doc"].stopword_ratio > 0.3


def test_quality_stage_language_tie_break(spark):
    """Spark's array_max over struct(hits, lang) and the oracle's CASE
    chain implement the hit-tie independently; both must resolve to the
    lexicographically GREATEST language code. 'la', 'de' and 'que' sit in
    both the es and fr lexicons, so a text of only those words ties
    es == fr and must come out 'fr'."""
    text = "la de que " * 10 + "zz yy xx ww vv uu tt ss rr qq pp"
    rows = _quality_rows(spark, [("tie-doc", text.strip())])
    assert rows["tie-doc"].lang_guess == "fr"
    # and the DuckDB oracle CTE agrees on the same input
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    sql = entry.oracle_sql()["pipeline_end_to_end"]
    # extract the lang CASE by running the shared hit logic on a literal
    from smartreader_spark.functions.textqa import STOPWORDS

    langs_desc = sorted(STOPWORDS, reverse=True)
    hits = {
        lang: con.execute(
            "SELECT len(list_filter(string_split($1, ' '), x -> x IN ("
            + ", ".join(repr(w) for w in ws)
            + ")))",
            [text.strip()],
        ).fetchone()[0]
        for lang, ws in STOPWORDS.items()
    }
    assert hits["es"] == hits["fr"] > 0  # the tie is real
    best = max(hits.values())
    oracle_lang = next(l for l in langs_desc if hits[l] == best)
    assert oracle_lang == "fr"
    assert "WHEN h_fr THEN 'fr'" in sql  # fr checked first in the CASE


def test_quality_stage_cjk_punctuation(spark):
    """Fullwidth CJK punctuation counts toward punct_ratio (the ASCII-only
    class graded CJK docs by length alone — VERDICT r4 finding #4): a
    mark-dense doc is rejected, its low-punctuation twin passes."""
    spam = " ".join(["字。 句！ 读？"] * 24)  # 6 marks per 9 chars
    clean = " ".join(["这是 一个 测试 文本 片段"] * 12) + " 。"
    rows = _quality_rows(spark, [("cjk-spam", spam), ("cjk-clean", clean)])
    assert "cjk-spam" not in rows  # punct_ratio ≥ 0.1 → filtered
    assert rows["cjk-clean"].lang_guess == "und"  # no lexicon hit
    assert rows["cjk-clean"].punct_ratio < 0.1
    assert rows["cjk-clean"].stopword_ratio == 0.0


def test_unified_doc_table_pdf_source_injection(spark, tmp_path):
    """The composed job's PDF leg accepts an external corpus — as a
    DataFrame and as a parquet path (tools/submit_pipeline --pdf-source);
    the synthetic gate corpus stays the default."""
    from smartreader_spark.pipeline.training import unified_doc_table
    from smartreader_spark.sources.pdf_corpus import make_pdf

    ext = spark.createDataFrame(
        [(555000, bytearray(make_pdf(0))), (555001, bytearray(make_pdf(1)))],
        "doc_id long, pdf binary",
    )
    out = unified_doc_table(
        spark, "/root/testdata/sf0.001", pdf_source=ext, pdf_partitions=1
    )
    pdf_ids = {
        r.doc_id for r in out.filter(F.col("source") == "pdf").select("doc_id").collect()
    }
    assert pdf_ids == {"555000", "555001"}

    path = str(tmp_path / "ext_pdfs.parquet")
    ext.write.parquet(path)
    out2 = unified_doc_table(
        spark, "/root/testdata/sf0.001", pdf_source=path, pdf_partitions=1
    )
    pdf_ids2 = {
        r.doc_id
        for r in out2.filter(F.col("source") == "pdf").select("doc_id").collect()
    }
    assert pdf_ids2 == pdf_ids


def test_training_pipeline_job_count(spark):
    """One pipeline_end_to_end run, built and collected from scratch under
    its own job group, submits at most 15 jobs. 13 of them: the schema
    read, the two extraction shuffles and the extraction cache; the
    exact-dedup shuffle and its cache; the signature and bucket-window
    shuffles and their cache; the loser broadcast; the final sort's
    sample, shuffle and result. Two scans of a cache that is not yet
    materialized each submit a job, and the exact-dedup and bucket
    caches are each scanned twice (the anti-join and the signatures; the
    two sides of the self-join): 2 more. The old plan took 25."""
    from smartreader_spark.pipeline import training

    sc = spark.sparkContext
    for key, stages in list(training._STAGES_CACHE.items()):
        if key[0] == sc.applicationId:  # from an earlier test
            for df in stages.values():
                df.unpersist()
    training._STAGES_CACHE.clear()

    group = "training-pipeline-under-test"
    sc.setJobGroup(group, "one training_pipeline run")
    try:
        rows = training.training_pipeline(spark, "/root/testdata/sf0.001").collect()
    finally:
        sc.setJobGroup("after-training-pipeline", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert rows
    assert len(jobs) <= 15, sorted(jobs)


@pytest.mark.parametrize("form", ["path", "uri"])
def test_resumable_pdf_ingest_skips_permanent_failures(spark, tmp_path, form):
    """A resume over PDF output must NOT re-parse permanently-failed
    blobs: PdfParseError (container) and PdfDegraded (partial data loss)
    are ledgered as done via pdf_done_predicate — only missing docs and
    retryable PdfCrash rows would run again. `form` names the output by
    a bare local path or by the ``file://`` URI of the same directory."""
    from smartreader_spark.pipeline.checkpoint import run_resumable
    from smartreader_spark.pipeline.pdf_ingest import pdf_done_predicate, pdf_to_span_table
    from smartreader_spark.sources.pdf_corpus import make_pdf

    degraded = bytearray(make_pdf(1))  # corrupt page 1's Flate stream
    i = degraded.find(b"/FlateDecode")
    s = degraded.find(b"stream\n", i) + len(b"stream\n")
    degraded[s : s + 8] = b"\x00" * 8
    corpus = spark.createDataFrame(
        [
            (1, bytearray(make_pdf(0))),  # clean
            (2, degraded),                # PdfDegraded: permanent
            (3, bytearray(b"not a pdf")), # PdfParseError: permanent
        ],
        "doc_id long, pdf binary",
    )
    out = str(tmp_path / "pdf_out") if form == "path" else (tmp_path / "pdf_out").as_uri()
    sc = spark.sparkContext
    jobs = []
    for run in ("first", "resume"):
        sc.setJobGroup(f"pdf-{run}-{form}-under-test", f"pdf ingest, {run} run")
        try:
            r = run_resumable(
                spark, corpus, out, lambda todo: pdf_to_span_table(todo, num_partitions=1),
                done_predicate=pdf_done_predicate(),
            )
        finally:
            sc.setJobGroup("after-pdf-ingest", "")
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"pdf-{run}-{form}-under-test")))
        assert r["run_docs"] == (3 if run == "first" else 0), "permanent failures were retried"
    # the run's doc count is observed on the data write: no schema-inference
    # read or count of the output (5 jobs per run when it was read back)
    assert jobs[0] <= 2 and jobs[1] <= 3, jobs
    # and the error classes are what the ledger predicate saw
    errs = {
        r.doc_id: r.error
        for r in spark.read.parquet(out).select("doc_id", "error").collect()
    }
    assert errs[1] is None
    assert errs[2].startswith("PdfDegraded:")
    assert errs[3].startswith("PdfParseError:")


def test_widened_lexicon_multilingual_cross_engine(spark):
    """Round-6 lexicon widening (VERDICT r5 #3): 13 languages × ~25
    stopwords, two non-Latin scripts. One doc per language must (a) be
    guessed as that language by the Spark stage and (b) get the IDENTICAL
    (lang_guess, stopword hit count) from the DuckDB restatement — the
    counting/argmax/tie-break logic is stated independently per engine."""
    import duckdb

    from smartreader_spark.functions.textqa import STOPWORDS

    assert len(STOPWORDS) >= 10
    assert all(len(ws) >= 20 for ws in STOPWORDS.values())

    filler = " zzz qqq xxx www vvv uuu ttt sss rrr"  # no lexicon hits
    docs = []
    for lang, ws in STOPWORDS.items():
        # each language's doc: its own top stopwords ×4 — dominates any
        # cross-language word sharing (≤ a handful of shared words)
        docs.append((f"{lang}-doc", (" ".join(ws[:15]) + filler + " ") * 4))

    from smartreader_spark.pipeline.training import quality_token_stage

    df = spark.createDataFrame(docs, "doc_id string, text string")
    rows = {r.doc_id: r for r in quality_token_stage(df).collect()}
    assert set(rows) == {f"{lang}-doc" for lang in STOPWORDS}
    for lang in STOPWORDS:
        assert rows[f"{lang}-doc"].lang_guess == lang, (
            lang, rows[f"{lang}-doc"].lang_guess)

    # non-Latin scripts really exercised
    assert any(not ws[0].isascii() for ws in STOPWORDS.values())
    assert rows["ru-doc"].lang_guess == "ru"
    assert rows["ar-doc"].lang_guess == "ar"

    # DuckDB: same hit counts and same argmax per doc
    con = duckdb.connect()
    langs_desc = sorted(STOPWORDS, reverse=True)
    for doc_id, text in docs:
        hits = {
            lang: con.execute(
                "SELECT len(list_filter(string_split("
                "  regexp_replace(lower(trim($1)), '\\s+', ' ', 'g'), ' '),"
                "  x -> x IN (" + ", ".join(repr(w) for w in ws) + ")))",
                [text],
            ).fetchone()[0]
            for lang, ws in STOPWORDS.items()
        }
        best = max(hits.values())
        oracle_lang = next(l for l in langs_desc if hits[l] == best)
        spark_row = rows[doc_id]
        assert oracle_lang == spark_row.lang_guess, (doc_id, hits)
        assert best == round(
            spark_row.stopword_ratio * spark_row.n_tokens
        ), (doc_id, best, spark_row.stopword_ratio, spark_row.n_tokens)


def test_quality_stage_escapes_sql_literals(spark, monkeypatch):
    """The stopword gate is one generated SQL string: a stopword holding
    an apostrophe must be quoted, not end the literal. The real lexicon
    quotes exactly as before (same generated SQL)."""
    from smartreader_spark.functions.textqa import STOPWORDS

    real = dict(STOPWORDS)
    monkeypatch.setitem(STOPWORDS, "fr", (*STOPWORDS["fr"], "l'"))
    rows = _quality_rows(spark, [("d", " ".join(["l'"] * 25 + ["qwx"] * 10))])
    assert rows["d"].lang_guess == "fr"
    assert rows["d"].stopword_ratio == round(25 / 35, 6)

    from smartreader_spark.sqltext import sql_string

    for lang, words in real.items():
        assert all(sql_string(w) == f"'{w}'" for w in (lang, *words))
