"""The benchmark's workloads; `Workload` documents their life cycle.
The program only ever sees the generated files."""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from docs import generate_documents, write_documents
from pages import ARTICLE_MARK, BOILERPLATE_MARK, generate_pages

#: web_pages: pages (about 16 MB of HTML), the share of them (percent, a
#: multiple of 10) already covered by the pre-written prior run, and the
#: left-over pages checked span-for-span against a direct kernel call on
#: every run
WEB_PAGES = 80
PRIOR_PCT = 30
WEB_SAMPLE = 12
#: training_pipeline: docs in the timed sf-shaped `documents` table, and
#: in the sf0.01-sized table checked once before the timed runs
TRAIN_DOCS = 1000
SF001_DOCS = 500

_SPAN = pa.struct([
    ("kind", pa.string()),
    ("text", pa.string()),
    ("media_ref", pa.string()),
    ("offset", pa.int32()),
])
_SPANS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    ("spans", pa.list_(_SPAN)),
])


def _span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


class Workload:
    """The life cycle run.py drives. A subclass sets `name` and
    `traced_calls`, and implements generate, prepare, run and check."""

    name = ""
    #: ``module:function`` calls the traced run records spans around
    traced_calls: list[str] = []

    def __init__(self, work: str, seed: int, nproc: int):
        self.work, self.seed, self.nproc = work, seed, nproc

    def generate(self) -> None:
        """Make the inputs from the seed and write them under the work
        directory (part of ``setup_s``)."""
        raise NotImplementedError

    def begin(self) -> None:
        """Start, right after the timed set-up, work that `prepare` waits
        for."""

    def htmls(self) -> list[str]:
        """The HTML of every input doc, as the kernel sees it (for the
        kernel probes of the traced run)."""
        raise NotImplementedError

    def run_html_mb(self) -> float:
        """MB of HTML one timed run extracts."""
        raise NotImplementedError

    def prepare(self, spark) -> int:
        """Once per invocation, in the session the timed runs use: build
        what the checks compare against and run the workload's first,
        cold Spark job (untimed). Returns mismatches found."""
        raise NotImplementedError

    def reset(self, spark) -> None:
        """Put the program back in the same state before every run."""

    def run(self, spark, k: int) -> dict:
        """One timed run through the package's public entry points;
        returns the docs attempted and whatever the check needs."""
        raise NotImplementedError

    def check(self, spark, res: dict) -> int:
        """Outputs of `res` that differ from the reference computation
        (``output_mismatches``); sets ``res["failed"]`` (error rows). Runs
        outside the timed region."""
        raise NotImplementedError

    def layer_metrics(self, spark, tracer, stages: list[dict], res: dict) -> dict:
        """Per-layer metrics only this workload has, after the traced run."""
        return {}

    def close(self) -> None:
        """Release what `begin` started."""


class WebPages(Workload):
    """Readability-shaped pages through run_resumable_extraction with its
    defaults, resuming a pre-written prior run over 30 % of the pages
    (the three smallest of every ten in size order). The kernel does almost all of the work; the size tail
    skews the per-file tasks; the checkpoint layer (ledger anti-join,
    append, lineage) runs on every run."""

    name = "web_pages"
    traced_calls = [
        "smartreader_spark.pipeline.checkpoint:run_resumable_extraction",
        "smartreader_spark.pipeline.checkpoint:load_ledger",
        "smartreader_spark.pipeline.checkpoint:remaining_input",
        "smartreader_spark.pipeline.checkpoint:lineage_metrics",
        "smartreader_spark.pipeline.extract:extract_articles",
    ]

    def __init__(self, work: str, seed: int, nproc: int):
        super().__init__(work, seed, nproc)
        self.path = os.path.join(work, "pages.parquet")
        self.prior = os.path.join(work, "prior", "out")
        self.out = os.path.join(work, "run", "out")

    def generate(self) -> None:
        from smartreader_spark.kernel.serializer import html_to_input_spans

        self.pages = generate_pages(self.seed, WEB_PAGES)
        rows = [{"doc_id": p.doc_id, "spans": html_to_input_spans(p.html)}
                for p in self.pages]
        # nproc files, page i in file i % nproc: each file is one task of
        # the extraction (no repartition), and every seed gets the same
        # bytes in each file, so the same skew
        os.makedirs(self.path, exist_ok=True)
        for k in range(self.nproc):
            pq.write_table(pa.Table.from_pylist(rows[k::self.nproc], schema=_SPANS_SCHEMA),
                           os.path.join(self.path, f"part-{k:05d}.parquet"))

    @property
    def n_docs(self) -> int:
        return self.remaining

    def htmls(self) -> list[str]:
        return [p.html for p in self.pages]

    def run_html_mb(self) -> float:
        return self.remaining_mb

    def input_df(self, spark):
        return spark.read.parquet(self.path)

    def prepare(self, spark) -> int:
        """Write the prior run (the session's first extraction, so it also
        takes the warm-up out of the timed runs), then extract a seeded
        sample of the pages it left over with a direct kernel call."""
        from pyspark.sql import functions as F

        from smartreader_spark.kernel.reader import extract_html
        from smartreader_spark.pipeline.checkpoint import run_resumable_extraction

        # the smallest PRIOR_PCT of every ten pages in size order: every
        # seed leaves the runs the same sizes, the largest pages included
        rng = random.Random(self.seed)
        by_size = sorted(self.pages, key=lambda p: len(p.html))
        prior_ids = [p.doc_id for i, p in enumerate(by_size) if i % 10 < PRIOR_PCT // 10]
        run_resumable_extraction(
            spark, self.input_df(spark).filter(F.col("doc_id").isin(prior_ids)),
            self.prior, run_id="prior",
        )
        todo = [p for p in self.pages if p.doc_id not in set(prior_ids)]
        self.remaining = len(todo)
        self.remaining_mb = sum(len(p.html) for p in todo) / 1e6
        sample = rng.sample(todo, WEB_SAMPLE)
        self.expected = {p.doc_id: _span_tuples(extract_html(p.html)["spans"])
                         for p in sample}
        self.planted_article = sum(len(p.article_marks) for p in self.pages)
        self.planted_boilerplate = sum(len(p.boilerplate_marks) for p in self.pages)
        return 0

    def reset(self, spark) -> None:
        """Put the output back to the pre-written prior run."""
        shutil.rmtree(os.path.dirname(self.out), ignore_errors=True)
        for suffix in ("", "_lineage"):
            shutil.copytree(self.prior + suffix, self.out + suffix)

    def run(self, spark, k: int) -> dict:
        from smartreader_spark.pipeline.checkpoint import run_resumable_extraction

        r = run_resumable_extraction(
            spark, self.input_df(spark), self.out, run_id=f"run{k}",
        )
        return {"attempted": self.remaining, "run_id": r["run_id"],
                "run_docs": r["run_docs"]}

    def layer_metrics(self, spark, tracer, stages, res) -> dict:
        import layers

        with tracer.span("checkpoint.probe"):
            return layers.checkpoint_metrics(spark, self, stages, res["run_id"])

    def check(self, spark, res: dict) -> int:
        """One row per page in the output, the lineage covering exactly the
        pages left over, and the sampled pages' spans equal to the direct
        kernel call. Also counts the planted markers in the output."""
        from pyspark.sql import functions as F

        from smartreader_spark.pipeline.checkpoint import read_extracted

        text = F.concat_ws(" ", F.transform("spans", lambda s: s["text"]))

        def found(rx):
            return F.sum(F.size(F.array_distinct(
                F.regexp_extract_all(text, F.lit(rx.pattern), 0))))

        row = read_extracted(spark, self.out).agg(
            F.count("*").alias("rows"),
            F.countDistinct("doc_id").alias("ids"),
            F.count(F.when(F.col("run_id") == res["run_id"], F.col("error"))).alias("errors"),
            found(ARTICLE_MARK).alias("article"),
            found(BOILERPLATE_MARK).alias("boilerplate"),
            F.collect_list(F.when(
                F.col("doc_id").isin(list(self.expected)),
                F.struct("doc_id", "run_id", "spans"),
            )).alias("sample"),
        ).collect()[0]
        res["failed"] = row["errors"]
        res["article_recall"] = row["article"] / self.planted_article
        res["boilerplate_leak"] = row["boilerplate"] / self.planted_boilerplate
        got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
               for r in row["sample"] if r["run_id"] == res["run_id"]}
        n = len(self.pages)
        return (abs(row["rows"] - n) + abs(row["ids"] - n)
                + abs(res["run_docs"] - self.remaining)
                + sum(got.get(d) != spans for d, spans in self.expected.items()))


class TrainingPipeline(Workload):
    """training_pipeline over a 1,000-doc sf-shaped `documents` table
    stored as nproc files in a seeded row order. Most of the time goes to
    the dedup/simhash/quality stages, shuffles and caching; extraction is
    a minority leg."""

    name = "training_pipeline"
    # training.py binds its imports at module import, so they are wrapped
    # in its namespace
    traced_calls = [
        "smartreader_spark.pipeline.training:training_pipeline",
        "smartreader_spark.pipeline.training:unified_doc_table",
        "smartreader_spark.pipeline.training:quality_token_stage",
        "smartreader_spark.pipeline.training:wrap_plain_documents",
        "smartreader_spark.pipeline.training:extract_articles",
        "smartreader_spark.pipeline.training:pdf_to_span_table",
        "smartreader_spark.functions.dedup:simhash_banded_for_docs",
        "smartreader_spark.pipeline.training:simhash_pairs_for_docs",
        "smartreader_spark.pipeline.training:oversized_buckets_for_docs",
    ]

    def __init__(self, work: str, seed: int, nproc: int):
        super().__init__(work, seed, nproc)
        self.one_file = os.path.join(work, "sf_one")
        self.many_files = os.path.join(work, "sf_many")
        self.sf001 = os.path.join(work, "sf001")
        self._pool = None

    def generate(self) -> None:
        self.table = generate_documents(self.seed, TRAIN_DOCS)
        write_documents(self.table, self.one_file)
        write_documents(self.table, self.many_files, n_files=self.nproc,
                        order_seed=self.seed)
        write_documents(generate_documents(self.seed + 1, SF001_DOCS), self.sf001)

    @property
    def n_docs(self) -> int:
        from smartreader_spark.pipeline.training import PDF_DOCS

        return TRAIN_DOCS + PDF_DOCS

    def htmls(self) -> list[str]:
        return [_wrap(d, t) for d, t in zip(self.table["doc_id"].to_pylist(),
                                             self.table["text"].to_pylist())]

    def run_html_mb(self) -> float:
        return sum(map(len, self.htmls())) / 1e6

    def input_df(self, spark):
        from smartreader_spark.pipeline.corpus import wrap_plain_documents

        return wrap_plain_documents(spark, self.many_files)

    def begin(self) -> None:
        """Start computing the expected outputs in a separate process, after
        the timed set-up: the repository's DuckDB oracle for
        `pipeline_end_to_end`, over the single-file layout of the timed
        table and over the sf0.01-sized table."""
        from concurrent.futures import ProcessPoolExecutor
        from multiprocessing import get_context

        self._pool = ProcessPoolExecutor(max_workers=1, mp_context=get_context("spawn"))
        self._oracle = [self._pool.submit(oracle_pipeline_rows, src)
                        for src in (self.one_file, self.sf001)]

    def prepare(self, spark) -> int:
        """Run the pipeline once on the sf0.01-sized table, while the oracle
        computes, and compare it with the oracle; this first run in the
        session also takes the JVM's and the workers' warm-up out of the
        timed runs. Docs the kernel errors on (or extracts to nothing) are
        dropped by the pipeline on purpose; they are the timed runs'
        failed docs."""
        from smartreader_spark.pipeline.training import training_pipeline

        self.reset(spark)
        got = [tuple(r) for r in training_pipeline(spark, self.sf001).collect()]
        (rows, n_html), (rows_sf001, _) = (f.result() for f in self._oracle)
        self.close()
        self.expected = _digest(rows)
        self.failed = TRAIN_DOCS - n_html
        return int(_digest(got) != _digest(rows_sf001))

    def close(self) -> None:
        if self._pool is not None:
            self._pool.shutdown(cancel_futures=True)
            self._pool = None

    def reset(self, spark) -> None:
        """Empty the pipeline's stage memo and Spark's cache, so every run
        builds its stages (entries of stopped sessions are just dropped)."""
        from smartreader_spark.pipeline import training

        app = spark.sparkContext.applicationId
        for key, stages in training._STAGES_CACHE.items():
            if key[0] == app:
                for df in stages.values():
                    df.unpersist()
        training._STAGES_CACHE.clear()
        spark.catalog.clearCache()

    def run(self, spark, k: int) -> dict:
        from smartreader_spark.pipeline.training import training_pipeline

        rows = training_pipeline(spark, self.many_files).collect()
        return {"attempted": self.n_docs, "rows": [tuple(r) for r in rows]}

    def check(self, spark, res: dict) -> int:
        res["failed"] = self.failed
        return int(_digest(res["rows"]) != self.expected)

    def layer_metrics(self, spark, tracer, stages, res) -> dict:
        import layers

        return layers.training_metrics(spark, self, tracer)


WORKLOADS = {w.name: w for w in (WebPages, TrainingPipeline)}


def _wrap(doc_id, text) -> str:
    """The HTML that pipeline.corpus.wrap_plain_documents builds."""
    return (f"<html><head><title>doc {doc_id}</title></head>"
            f"<body><article><p>{text}</p></article></body></html>")


def _digest(rows) -> str:
    """Order-insensitive digest of output rows; floats rounded to 6
    places the way the repository's oracle comparison does."""
    def norm(v):
        return f"{v:.6f}" if isinstance(v, float) else str(v)

    lines = sorted("\x1f".join(norm(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def oracle_pipeline_rows(sf_dir: str) -> tuple[list[tuple], int]:
    """Rows of ``oracle_sql()["pipeline_end_to_end"]`` over the documents
    in `sf_dir`. The oracle reads its unified doc table from a committed
    fixture; here that table is rebuilt for `sf_dir` by the same
    kernel-side mirror that built the fixture
    (tools/build_expected.py::pipeline_docs_rows). Also returns how many
    HTML docs that mirror kept."""
    import duckdb

    import __spark_entry__ as entry
    from tools import build_expected

    build_expected.SF001 = sf_dir
    docs = os.path.join(sf_dir, "expected_pipeline_docs.parquet")
    expected_docs = build_expected.pipeline_docs_rows()
    pq.write_table(
        pa.Table.from_pylist(
            expected_docs,
            schema=pa.schema([("doc_id", pa.string()), ("source", pa.string()),
                              ("text", pa.string())]),
        ),
        docs,
    )
    sql = entry.oracle_sql()["pipeline_end_to_end"]
    if entry._EXPECTED_PIPELINE_PQ not in sql:
        raise RuntimeError("the pipeline oracle no longer reads its doc-table fixture")
    sql = sql.replace(entry._EXPECTED_PIPELINE_PQ, docs)
    con = duckdb.connect()
    try:
        rows = [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()
    return rows, sum(d["source"] == "html" for d in expected_docs)
