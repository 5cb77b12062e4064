"""The two benchmark workloads.

Each is a closed loop: one client issues one operation at a time and the
next only after the previous returned. A run is a cold pass (the first
pass in a fresh session) followed by a fixed number of window passes; every
pass issues the same operations in the same order.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil

import pandas as pd

from perfbench import gen, oracle, probe

CATALOG_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q18_large_orders",
    "join_fk",
    "win_rownum_topk",
    "agg_rollup",
    "topk_global",
)


class OpRec:
    """One attempted operation: its name, pass, wall time, what it returned
    for checking, and the error if it raised."""

    def __init__(self, name: str, pass_no: int):
        self.name = name
        self.pass_no = pass_no
        self.seconds = 0.0
        self.result = None
        self.error: str | None = None
        self.groups: list[str] = []
        self.extra: dict = {}
        self.span: dict | None = None


class Workload:
    tables: tuple[str, ...] = ()
    # Window passes per 10 s of --seconds. The window is every pass after
    # the cold one: the JVM is still getting faster through all of them, and
    # untimed warm-up passes did not steady the figures as much as timing
    # those passes too (see the README).
    passes_per_10s = 1.0

    def __init__(self, ctx):
        self.ctx = ctx
        self.in_dir = os.path.join(ctx.data_root, f"pb_{self.name}_s{ctx.seed}")

    def window_passes(self, seconds: int) -> int:
        """Passes after the cold pass: a fixed function of --seconds, so the
        amount of work never depends on how fast the host is."""
        return max(1, round(seconds * self.passes_per_10s / 10))

    def load(self) -> None:
        """Open every input table through the catalog and run a first job."""
        from sdg_data_catalog_spark.catalog import table

        dfs = [table(self.ctx.spark, self.in_dir, t) for t in self.tables]
        dfs[0].count()


class CatalogQueries(Workload):
    name = "catalog_queries"
    tables = ("lineitem", "orders", "customer", "supplier", "part", "nation", "region")
    passes_per_10s = 3.5

    def make_inputs(self) -> None:
        gen.relational(self.ctx.seed, self.in_dir)

    def ops(self, pass_no: int):
        return [(n, self._query(n)) for n in CATALOG_QUERIES]

    def _query(self, name: str):
        ctx = self.ctx

        def run(rec: OpRec):
            fn = ctx.queries[name]
            with ctx.tracer.span("queries.build", op=name), ctx.group(rec, "build"):
                df = fn(ctx.spark, self.in_dir)
            with ctx.tracer.span("queries.exec", op=name), ctx.group(rec, "exec"):
                return df.toPandas()

        return run

    def check(self, recs: list[OpRec], threads: int) -> dict[str, str]:
        from sdg_data_catalog_spark.queries.registry import all_oracles

        sql = all_oracles()
        con = oracle.duck(self.in_dir, threads)
        want = {n: con.execute(sql[n]).df() for n in {r.name for r in recs if r.error is None}}
        con.close()
        return {
            f"{r.name}#{r.pass_no}": err
            for r in recs
            if r.error is None and (err := oracle.compare(r.result, want[r.name]))
        }


class CatalogPublish(Workload):
    """Cycles of the write path: ingest a batch through the CLI, publish it
    as a new catalog version and read LATEST back, scrape the next slice
    into the status ledger, run a ner export and a checkpointed streaming
    aggregate, (from the second cycle on) roll back one version and read it
    back, and prune to retention."""

    name = "catalog_publish"
    tables = ("documents", "events")
    DOCS_PER_BATCH = 1_000
    EVENTS_PER_BATCH = 10_000
    SCRAPE_N = 200
    SCRAPE_STEP = 150
    PUBLISH_KEEP = 4
    # Prune runs after the rollback and keeps only the live snapshot, so in
    # every cycle after the first it removes the version just published and
    # keeps the older one the rollback made live.
    PRUNE_KEEP = 0
    NER_FRACTION = 0.02
    passes_per_10s = 1.5

    def __init__(self, ctx):
        super().__init__(ctx)
        self.out = os.path.join(ctx.run_root, "publish")
        self.catalog_root = os.path.join(self.out, "catalog")
        self.batches: list[str] = []
        self.scrape_dir = ""
        self.scrape_ids: list[int] = []
        self.published: dict[int, str] = {}  # version -> checksum read back

    def make_inputs(self) -> None:
        n = 1 + self.window_passes(self.ctx.seconds)
        self.batches, self.scrape_dir, self.scrape_ids = gen.publish_batches(
            self.ctx.seed, self.in_dir, n, self.DOCS_PER_BATCH,
            self.EVENTS_PER_BATCH, self.SCRAPE_STEP * n + self.SCRAPE_N,
        )

    def load(self) -> None:
        from sdg_data_catalog_spark.catalog import table

        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        dfs = [table(self.ctx.spark, self.batches[0], t) for t in self.tables]
        table(self.ctx.spark, self.scrape_dir, "documents")
        dfs[0].count()

    def _cli(self, rec: OpRec, layer: str, argv: list[str]) -> dict:
        from sdg_data_catalog_spark import cli

        with self.ctx.tracer.span(layer), self.ctx.group(rec, "run"), contextlib.redirect_stdout(self.ctx.log):
            return cli.main(argv)

    def ops(self, k: int):
        from sdg_data_catalog_spark.sources import atomic

        ctx, batch = self.ctx, self.batches[k]
        ingest_out = os.path.join(self.out, f"ingest{k}")

        def ingest(rec):
            return self._cli(rec, "cli.ingest", ["ingest", "--sf-dir", batch, "-o", ingest_out])

        # Publish and the read of LATEST are one op. As two ops, a cycle had
        # four sub-second ops and four 1-3 s ops, and the median op time fell
        # in the gap between them, where it jumped from run to run.
        def publish(rec):
            papers = atomic.read_latest(ctx.spark, os.path.join(ingest_out, "papers"))
            with ctx.group(rec, "run"):
                with ctx.tracer.span("sources.publish"):
                    path = atomic.publish(papers, self.catalog_root, k, keep=self.PUBLISH_KEEP)
                with ctx.tracer.span("sources.read_latest"):
                    return path, atomic.read_latest(ctx.spark, self.catalog_root).toPandas()

        def scrape(rec):
            return self._cli(rec, "cli.scrape", [
                "scrape", "--sf-dir", self.scrape_dir, "-o", os.path.join(self.out, "scrape"),
                "-s", str(self._scrape_start(k)), "-n", str(self.SCRAPE_N),
            ])

        def ner(rec):
            return self._cli(rec, "cli.ner", [
                "ner", "--sf-dir", batch, "-bf", str(self.NER_FRACTION),
                "-na", os.path.join(self.out, f"ner{k}.jsonl"),
                "-rn", os.path.join(self.out, f"ner{k}_report.json"),
            ])

        def stream(rec):
            with ctx.tracer.span("streaming.batch"), ctx.group(rec, "run"):
                return ctx.queries["stream_rocksdb"](ctx.spark, batch).toPandas()

        def prune(rec):
            with ctx.tracer.span("sources.prune"):
                return atomic.prune(self.catalog_root, keep=self.PRUNE_KEEP)

        def rollback(rec):
            with ctx.tracer.span("sources.rollback"), ctx.group(rec, "run"):
                _, version = atomic.rollback(self.catalog_root)
                return version, atomic.read_latest(ctx.spark, self.catalog_root).toPandas()

        ops = [("ingest", ingest), ("publish", publish), ("scrape", scrape), ("ner", ner), ("stream_rocksdb", stream)]
        return ops + ([("rollback", rollback)] if k else []) + [("prune", prune)]

    def _scrape_start(self, k: int) -> int:
        """Slices overlap by SCRAPE_N - SCRAPE_STEP ranks, so the ledger's
        anti-join has already-attempted ids to skip."""
        return self.scrape_ids[k * self.SCRAPE_STEP]

    def after_op(self, rec: OpRec) -> None:
        """State read right after an op, outside its timing, for the checks."""
        from sdg_data_catalog_spark.sources import atomic

        if rec.error is not None:
            return
        if rec.name == "publish":  # sized now: a later prune may remove it
            rec.extra["written"] = probe.tree_size(rec.result[0])
            self.published[rec.pass_no] = oracle.checksum(rec.result[1])
        if rec.name in ("publish", "prune", "rollback"):
            live = atomic.latest_version(self.catalog_root)
            rec.extra["latest"] = live[1] if live else None
            rec.extra["versions"] = sorted(
                int(n[1:]) for n in os.listdir(os.path.join(self.catalog_root, "versions"))
            )
        if rec.name == "scrape":
            import pyarrow.parquet as pq

            rec.extra["ledger"] = pq.read_table(
                os.path.join(self.out, "scrape", "status"), columns=["doc_id"]
            ).column(0).to_pylist()
        if rec.name == "ner":
            with open(os.path.join(self.out, f"ner{rec.pass_no}.jsonl")) as fh:
                rec.extra["exported"] = pd.read_json(fh, lines=True)

    def check(self, recs: list[OpRec], threads: int) -> dict[str, str]:
        from sdg_data_catalog_spark.queries.registry import all_oracles

        sql = all_oracles()
        bad: dict[str, str] = {}
        scraped: set[int] = set()
        con = oracle.duck(self.scrape_dir, threads)
        for r in recs:
            if r.error is not None:
                continue
            k = r.pass_no
            tag = f"{r.name}#{k}"
            if r.name == "scrape":
                scraped.update(
                    x for (x,) in con.execute(
                        f"SELECT doc_id FROM documents WHERE doc_id >= {self._scrape_start(k)}"
                        f" ORDER BY doc_id LIMIT {self.SCRAPE_N}"
                    ).fetchall()
                )
                ledger = r.extra["ledger"]
                if len(ledger) != len(set(ledger)):
                    bad[tag] = "ledger holds duplicate doc_id"
                elif set(ledger) != scraped:
                    bad[tag] = f"ledger has {len(ledger)} ids, {len(scraped)} attempted so far"
        con.close()
        listed: list[int] | None = None  # versions after the last op that listed them
        for r in recs:
            if r.error is not None or r.name == "scrape":
                continue
            k = r.pass_no
            tag = f"{r.name}#{k}"
            con = oracle.duck(self.batches[k], threads)
            err = None
            if r.name == "ingest":
                n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
                n_cand = con.execute(
                    "SELECT count(*) FROM (SELECT unnest(regexp_split_to_array(text, '\\.\\s+')) AS p"
                    " FROM documents) WHERE contains(p, 'data')"
                ).fetchone()[0]
                got = (r.result["papers"], r.result["paragraph_candidates"])
                if got != (n_docs, n_cand):
                    err = f"ingest counts {got}, want {(n_docs, n_cand)}"
            elif r.name == "publish":
                want = con.execute(sql["scan_xml"]).df().rename(columns={"doc_id": "paper_id"})
                if r.extra["latest"] != k:
                    err = f"LATEST names v{r.extra['latest']}, last published v{k}"
                else:
                    err = oracle.compare(r.result[1], want)
            elif r.name == "ner":
                n = con.execute("SELECT count(*) FROM documents").fetchone()[0]
                want = con.execute(sql["rank_al_ltp"]).df().head(math.ceil(self.NER_FRACTION * n))
                err = oracle.compare(r.extra["exported"], want)
            elif r.name == "stream_rocksdb":
                err = oracle.compare(r.result, con.execute(sql["stream_rocksdb"]).df())
            elif r.name == "prune":
                live, versions = r.extra["latest"], r.extra["versions"]
                if live not in versions:
                    err = f"prune removed the live snapshot v{live}"
                elif len([v for v in versions if v != live]) > self.PRUNE_KEEP:
                    err = f"prune kept {versions} with keep={self.PRUNE_KEEP}"
                elif listed is None or sorted(r.result) != sorted(set(listed) - set(versions)):
                    err = f"prune returned {r.result}, versions went from {listed} to {versions}"
                elif k and not r.result:
                    err = f"prune removed nothing from {listed}"
            elif r.name == "rollback":
                version, rows = r.result
                if version != max(v for v in r.extra["versions"] if v < k):
                    err = f"rolled back to v{version}"
                elif oracle.checksum(rows) != self.published.get(version):
                    err = f"v{version} read back after rollback differs from its publish"
            con.close()
            if err:
                bad[tag] = err
            listed = r.extra.get("versions", listed)
        return bad

    def snapshot_mb(self) -> float:
        return probe.tree_size(os.path.join(self.catalog_root, "versions"))[1] / (1024 * 1024)


WORKLOADS = {w.name: w for w in (CatalogQueries, CatalogPublish)}
