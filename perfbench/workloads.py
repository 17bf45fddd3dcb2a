"""The workloads. Each has an untimed correctness check and a timed pass
(one closed-loop unit of work); ``run.py`` drives both.

* ``extract_bench`` — the extraction pipeline into a ``noop`` sink;
* ``job_resume`` — the committed extraction job, crashed half-way and
  resumed on the same output root.

``QuerySuite`` — eight Catalyst-only registry queries checked against their
DuckDB oracles — runs once inside every traced run for the per-query layer
numbers (see perfbench/README.md for why it is not a timed workload of its
own).
"""

from __future__ import annotations

import concurrent.futures
import contextlib
import json
import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

PAGES = 3000                    # both workloads read the same corpus
RESUME_GRANULES = 8
RESUME_PER_COMMIT = 4
RESUME_CRASH_AFTER = 1          # of RESUME_GRANULES / RESUME_PER_COMMIT groups
RESUME_SHUFFLE = 4              # one Arrow task per core per commit group
SUITE_PAGES = 1200
SUITE_QUERIES = {               # query -> the operators module it exercises
    "page_metadata": "pagemeta",
    "link_pagerank": "linkgraph",
    "cdx_index": "cdx",
    "dedup_minhash_lsh": "dedup",
    "ngram_repetition": "text_analysis",
    "token_pack": "curation",
    "ann_lsh_bucketed": "similarity",
    "cms_topk": "sketch",
}


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The query suite's documents / embeddings / events tables: a byte copy of
# the sf0.01 tables (seed 42) the repository's DuckDB oracle tests read.
# They live outside the repository, and a benchmark run reads only its
# checkout, so the benchmark carries its own copy.
SUITE_SF_DIR = os.path.join(HERE, "sf0.01")


def _goldens(t: pa.Table) -> dict[str, tuple]:
    return {u: (m, e, p) for u, m, e, p in zip(
        t.column("url").to_pylist(), t.column("markdown").to_pylist(),
        t.column("error").to_pylist(), t.column("plain_text").to_pylist())}


def check_committed_goldens() -> tuple[int, int]:
    """The seeded goldens come from the program under test, so they pin
    the Spark path to the single-process extractor but not the extractor
    itself. This pins the extractor: ``gen_goldens`` over the committed
    smoke corpus must reproduce the committed smoke goldens."""
    from fixtures.genpages import gen_goldens
    data = os.path.join(ROOT, "fixtures", "data")
    got = _goldens(gen_goldens(pq.read_table(
        os.path.join(data, "pages_smoke.parquet"))))
    golden = _goldens(pq.read_table(
        os.path.join(data, "goldens_smoke.parquet")))
    return len(golden), _compare(golden, got, 3)


def _compare(golden: dict[str, tuple], got: dict[str, tuple],
             width: int) -> int:
    """Mismatched, missing and unexpected urls. ``got`` values are
    compared against the first ``width`` golden fields; a row that only
    carries an error (a gate reject) is compared on the error alone."""
    bad = len(set(got) ^ set(golden))
    for url, row in got.items():
        want = golden.get(url)
        if want is None:
            continue
        if len(row) == 1:
            bad += row[0] != want[1]
        else:
            bad += row != want[:width]
    return bad


class ExtractBench:
    name = "extract_bench"

    def __init__(self, inputs, work: str) -> None:
        self.pages = inputs.pages(PAGES)
        self.goldens = inputs.goldens(PAGES)
        self.last_skew = 0.0

    def _plan(self, spark, metrics=None):
        from document_converter_api_spark.operators.extract import (
            extract_pipeline,
        )
        from document_converter_api_spark.plans.pipeline import (
            postprocess_results,
        )
        pages = spark.read.parquet(self.pages)
        results, rejects = extract_pipeline(
            pages, num_partitions=16, shuffle_partitions=8, metrics=metrics)
        return postprocess_results(results), rejects

    def check(self, spark) -> tuple[int, int]:
        post, rejects = self._plan(spark)
        res = post.select("url", "markdown", "error", "plain_text").toArrow()
        rej = rejects.select("url", "error").toArrow()
        got = {u: (m, e, p) for u, m, e, p in zip(
            *(res.column(c).to_pylist()
              for c in ("url", "markdown", "error", "plain_text")))}
        got.update((u, (e,)) for u, e in zip(rej.column("url").to_pylist(),
                                            rej.column("error").to_pylist()))
        golden = _goldens(pq.read_table(self.goldens))
        # the dict holds one row per url: a url emitted twice, or both as a
        # result and a reject, shows only in the row count
        bad = _compare(golden, got, 3)
        bad += res.num_rows + rej.num_rows != len(golden)
        return len(golden) + 1, bad

    def run_pass(self, spark, ledger=None, group=None) -> None:
        from document_converter_api_spark.operators.metrics import (
            ExtractionMetrics,
        )
        m = ExtractionMetrics(spark)
        post, _ = self._plan(spark, metrics=m)
        with _grouped(ledger, group):
            post.write.format("noop").mode("overwrite").save()
        self.last_skew = m.snapshot()["skew_max_over_median"] or 0.0


def postprocess_layers(spark, pages: str) -> tuple[float, float]:
    """``(postprocess_s, skew)`` over the extraction results of ``pages``.
    ``postprocess_s`` is the seconds the post-format projection adds over
    cached results: noop(postprocess(cached)) minus noop(cached), best of
    3. ``skew`` is ``ExtractionMetrics``' task max / median of the pass
    that fills the cache."""
    from document_converter_api_spark.operators.extract import (
        extract_pipeline,
    )
    from document_converter_api_spark.operators.metrics import (
        ExtractionMetrics,
    )
    from document_converter_api_spark.plans.pipeline import (
        postprocess_results,
    )
    m = ExtractionMetrics(spark)
    results, _ = extract_pipeline(spark.read.parquet(pages),
                                  num_partitions=16, shuffle_partitions=8,
                                  metrics=m)
    cached = results.cache()
    cached.write.format("noop").mode("overwrite").save()
    try:
        def best(df) -> float:
            walls = []
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
            return min(walls)
        post_s = best(postprocess_results(cached)) - best(cached)
    finally:
        cached.unpersist()
    return post_s, m.snapshot()["skew_max_over_median"] or 0.0


class JobResume:
    name = "job_resume"

    def __init__(self, inputs, work: str) -> None:
        self.inputs = inputs
        self.pages = inputs.pages(PAGES)
        self.out_root = os.path.join(work, "resume")
        self.layout = os.path.join(
            inputs.dir, f"layout_n{PAGES}_p{RESUME_GRANULES}"
                        f"_s{inputs.seed}")
        self.last_stats: dict = {}
        self._n = 0

    def _ensure_layout(self, spark) -> None:
        from document_converter_api_spark.plans.pipeline import (
            _PREPARTITION_META,
            prepartition_pages,
        )
        if not os.path.exists(os.path.join(self.layout, _PREPARTITION_META)):
            prepartition_pages(spark, self.pages, self.layout,
                               num_partitions=RESUME_GRANULES)

    def _crash_and_resume(self, spark, out: str) -> dict:
        from document_converter_api_spark.plans.pipeline import (
            run_extraction_job,
        )
        kw = dict(num_partitions=RESUME_GRANULES,
                  partitions_per_commit=RESUME_PER_COMMIT,
                  shuffle_partitions=RESUME_SHUFFLE)
        try:
            run_extraction_job(spark, self.layout, out,
                               fail_after_commits=RESUME_CRASH_AFTER, **kw)
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        else:
            raise RuntimeError("the injected crash did not happen")
        return run_extraction_job(spark, self.layout, out, **kw)

    def _fresh_out(self) -> str:
        # passes keep their outputs until run.py wipes the work directory,
        # so no deletion lands inside a timed pass
        self._n += 1
        return os.path.join(self.out_root, f"pass-{self._n}")

    def check(self, spark) -> tuple[int, int]:
        from document_converter_api_spark.sources.tableio import (
            LineageStore,
            ManifestTable,
        )
        self._ensure_layout(spark)
        out = self._fresh_out()
        self._crash_and_resume(spark, out)
        res = (ManifestTable(os.path.join(out, "results")).read(spark)
               .select("url", "markdown", "error").toArrow())
        rej = (ManifestTable(os.path.join(out, "rejects")).read(spark)
               .select("url", "error").toArrow())
        got = {u: (m, e) for u, m, e in zip(
            *(res.column(c).to_pylist() for c in ("url", "markdown", "error")))}
        rej_urls = rej.column("url").to_pylist()
        got.update((u, (e,)) for u, e in zip(rej_urls,
                                            rej.column("error").to_pylist()))
        golden = _goldens(pq.read_table(self.inputs.goldens(PAGES)))
        bad = _compare(golden, got, 2)
        lineage = LineageStore(
            os.path.join(out, "_lineage", "lineage.json")).load()
        completed = [r for r in lineage.values() if r["status"] == "completed"]
        bad += len(completed) != RESUME_GRANULES
        docs = sum(r["doc_count"] for r in completed)
        bad += docs != res.num_rows
        bad += docs + len(rej_urls) != len(golden)
        # attempted: every url, plus the three lineage totals
        return len(golden) + 3, bad

    def run_pass(self, spark, ledger=None, group=None) -> None:
        out = self._fresh_out()
        with _grouped(ledger, group):
            self.last_stats = self._crash_and_resume(spark, out)
        self.last_out = out


class QuerySuite:
    def __init__(self, inputs) -> None:
        self.pages = inputs.pages(SUITE_PAGES)
        self.oracle_path = os.path.join(
            inputs.dir, f"oracle_n{SUITE_PAGES}_s{inputs.seed}.json")
        # the WAT/CDX tier reads the corpus named by this variable
        os.environ["SPARK_GRAFT_PAGES"] = self.pages
        # DuckDB works out the expected results while Spark starts and
        # checks; a traced run reports no set-up time
        pool = concurrent.futures.ThreadPoolExecutor(1)
        self.expected = pool.submit(self.oracle)
        pool.shutdown(wait=False)

    def _queries(self) -> dict:
        import __spark_entry__ as entry
        reg = entry.queries()
        return {q: reg[q] for q in SUITE_QUERIES}

    def oracle(self) -> dict[str, list]:
        """(row count, value hash) per query from the DuckDB oracle over
        the same inputs; cached per seed."""
        path = self.oracle_path
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                return json.load(f)
        import duckdb

        import __spark_entry__ as entry
        from document_converter_api_spark.operators import linkgraph
        value_hash = _value_hash()
        con = duckdb.connect(config={"autoinstall_known_extensions": False})
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(SUITE_SF_DIR, t)}.parquet'")

        def run(sql: str):
            return con.execute(sql.replace(linkgraph.pages_path(),
                                           self.pages))
        sql = entry.oracle_sql()
        # the registry's link_pagerank oracle plants the smoke corpus's
        # host-graph size; re-plant it with this corpus's, counted by
        # DuckDB over the same node set
        n_nodes = con.execute(linkgraph.pagerank_cte(1).replace(
            "__PAGES_PARQUET__", self.pages)
            + " SELECT count(*) FROM nodes").fetchone()[0]
        sql["link_pagerank"] = linkgraph.oracle_sql_for_links(
            None, n_nodes)["link_pagerank"]
        expected = {}
        for q in SUITE_QUERIES:
            res = run(sql[q])
            cols = [d[0] for d in res.description]
            rows = [tuple(r) for r in res.fetchall()]
            expected[q] = [len(rows), value_hash(cols, rows)]
        con.close()
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(expected, f)
        os.replace(tmp, path)
        return expected

    def run_traced(self, spark, ledger) -> tuple[dict, int, int]:
        """Each query once, collected and checked against its oracle:
        ``({query: (wall seconds, job group)}, attempted, failed)``."""
        expected = self.expected.result()
        value_hash = _value_hash()
        runs, bad = {}, 0
        for q, fn in self._queries().items():
            group = f"suite-{q}"
            t0 = time.perf_counter()
            with ledger.group(group):
                df = fn(spark, SUITE_SF_DIR)
                rows = [tuple(r) for r in df.collect()]
            runs[q] = (time.perf_counter() - t0, group)
            bad += [len(rows), value_hash(list(df.columns), rows)] != expected[q]
        return runs, len(SUITE_QUERIES), bad


def _grouped(ledger, group):
    return contextlib.nullcontext() if ledger is None else ledger.group(group)


def _value_hash():
    """``tools/check_oracle.value_hash``: the repository's order-insensitive
    row hash, shared with its oracle-parity gate."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_oracle import value_hash
    return value_hash


WORKLOADS = {w.name: w for w in (ExtractBench, JobResume)}
