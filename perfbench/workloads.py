"""The benchmark's workloads, each closed-loop with one client.

A workload generates its inputs from the seed (``prepare``), has a small
set-up operation that is repeated to time set-up (``setup_op``), an untimed
cold pass that also checks every output (``warmup``), and a ``cycle`` of
fixed work that the runner repeats for the measuring window. Every call into
an engine layer is wrapped in a span.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict
from statistics import median

from data_pipeline_eng_project_1_spark.plans import flashscore
from data_pipeline_eng_project_1_spark.sources import catalog
from data_pipeline_eng_project_1_spark.sources.json_source import read_matches
from data_pipeline_eng_project_1_spark.streaming import pipeline

import flashscore_gen as fg
import tables_gen
from spans import tail

TABLE_NAMES = ("MATCH_FINISHED", "HOME_STARTING_LINEUP",
               "AWAY_STARTING_LINEUP", "ODDS")

LLM_QUERIES = (
    "dedup_components", "dedup_keep_best", "corpus_leakage_safe_split",
    "dedup_incremental", "dedup_winnow_pairs", "dedup_minhash_lsh",
    "text_tfidf_cosine_pairs", "text_bpe_vocab", "similarity_ann_pq",
    "similarity_ann_ivf", "embeddings_kmeans_lloyd",
    "corpus_pipeline_end_to_end",
)


class Context:
    """What a workload needs from the runner: the session, the tracer, a
    private work directory, and job-group bookkeeping for traced runs."""

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed

    def path(self, *parts) -> str:
        return os.path.join(self.work_dir, *parts)

    def group(self, name: str) -> str:
        """Label the jobs that follow with ``name`` (traced runs only)."""
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(name, name)
        return name

    def jobs(self, group: str) -> int:
        if not self.tracer.enabled:
            return 0
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(group))


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_rows(spark, path: str) -> int:
    return spark.read.parquet(path).count()


def _table_counts(spark, out: str) -> dict[str, int]:
    return {t: _parquet_rows(spark, f"{out}/{t}") for t in TABLE_NAMES}


def _match_digest(spark, path: str) -> str:
    rows = (spark.read.parquet(path)
            .select(*fg.MATCH_ROW_COLUMNS).collect())
    return fg.rows_digest(tuple(r) for r in rows)


# ---------------------------------------------------------------------------
# etl: a batch backfill of the dump archive, then drops of new files
# ---------------------------------------------------------------------------


class Etl:
    """The reference's job over its life: ``run_pipeline`` loads an archive
    of dumps (batch), then new files arrive a few at a time and each drop is
    drained by ``streaming.run_matches_pipeline`` (append to the four
    tables) and ``streaming.run_merge_stream`` (upsert into a keyed table).
    About a fifth of each later drop re-delivers earlier matches with
    updated scores."""

    name = "etl"
    n_backfill = 16_000
    backfill_files = 16
    n_drops = 3
    per_drop = 300
    files_per_drop = 2

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        """Forget the samples; keep the prepared inputs."""
        self.backfill_s: list[float] = []
        self.latency_s: list[float] = []
        self.backfill_groups: list[str] = []
        self.scan_s: list[float] = []
        self.transform_s: list[float] = []
        self.drops: list[dict] = []
        self.last_table_files = 0

    def prepare(self, ctx: Context) -> None:
        archive = fg.make_matches(ctx.seed, self.n_backfill)
        self.expected_backfill = fg.expected(archive)
        self.paths = fg.write_dumps(archive, ctx.path("archive"),
                                    self.backfill_files)
        drops = fg.make_drops(ctx.seed + 1, self.n_drops, self.per_drop)
        self.files = [
            [json.dumps(drop[k::self.files_per_drop], separators=(",", ":"))
             for k in range(self.files_per_drop)] for drop in drops]
        self.expected = fg.expected_after_drops(drops)

    def setup_op(self, spark) -> None:
        _noop(read_matches(spark, self.paths[0]))

    def _backfill(self, ctx: Context, tally: Tally, tag: str, out: str,
                  digest: bool) -> float | None:
        group = ctx.group(f"etl|{tag}|backfill")
        try:
            with ctx.tracer.span("plans.run_pipeline", cycle=tag) as s:
                flashscore.run_pipeline(ctx.spark, self.paths, out,
                                        mode="overwrite")
            ctx.group(f"etl|{tag}|check")
            exp = self.expected_backfill
            ok = _table_counts(ctx.spark, out) == exp["counts"] and (
                not digest or _match_digest(ctx.spark, f"{out}/MATCH_FINISHED")
                == exp["match_digest"])
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            tally.record(False, f"backfill {tag}: {e!r}"[:300])
            return None
        tally.record(ok, f"backfill {tag}: output mismatch")
        if tag != "warm":
            self.backfill_groups.append(group)
        return s.duration

    def _probe_sources(self, ctx: Context, tag: str) -> None:
        """Traced runs only: the scan alone, and the (lazy) plan build."""
        ctx.group(f"etl|{tag}|scan")
        with ctx.tracer.span("sources.scan", cycle=tag) as s:
            _noop(read_matches(ctx.spark, self.paths))
        self.scan_s.append(s.duration)
        with ctx.tracer.span("plans.transform_all", cycle=tag) as s:
            flashscore.transform_all(read_matches(ctx.spark, self.paths))
        self.transform_s.append(s.duration)

    def _drain(self, ctx, name: str, query, drop: int) -> dict:
        with ctx.tracer.span(f"streaming.{name}", drop=drop):
            query.awaitTermination()
        prog = query.recentProgress

        def dur(key: str) -> float:
            return sum(p["durationMs"].get(key, 0) for p in prog) / 1e3

        return {"trigger": dur("triggerExecution"),
                "add_batch": dur("addBatch"), "batches": len(prog),
                "rows": sum(p.get("numInputRows", 0) for p in prog),
                "run_id": str(query.runId)}

    def _drop(self, ctx: Context, root: str, tag: str, d: int) -> dict:
        """Make drop ``d`` visible, then drain both streams. Returns the
        drop's record; its latency runs from visibility to both drains
        having terminated."""
        spark, src, stage = ctx.spark, f"{root}/src", f"{root}/stage"
        names = [f"drop-{d:03d}-{k}.json" for k in range(len(self.files[d]))]
        for name, body in zip(names, self.files[d]):
            with open(f"{stage}/{name}", "w") as f:
                f.write(body)
        # A stream's jobs carry its run id as their job group, which the
        # stream sets itself; the event log is read by that id.
        with ctx.tracer.span("drop", cycle=tag, drop=d) as s:
            for name in names:
                os.rename(f"{stage}/{name}", f"{src}/{name}")
            append = self._drain(ctx, "append", pipeline.run_matches_pipeline(
                spark, src, f"{root}/stream", f"{root}/ck-append"), d)
            merge = self._drain(ctx, "merge", pipeline.run_merge_stream(
                flashscore.transform_matches(
                    pipeline.stream_matches(spark, src)),
                f"{root}/keyed", ["ID_MATCH"], "DATE_LOAD",
                f"{root}/ck-merge"), d)
        return {"latency": s.duration, "append": append, "merge": merge}

    def _cycle(self, ctx: Context, tally: Tally, tag: str) -> None:
        measured = tag != "warm"
        root = ctx.path(f"etl-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(f"{root}/src")
        os.makedirs(f"{root}/stage")
        keyed = f"{root}/keyed"
        backfill = self._backfill(ctx, tally, tag, f"{root}/batch",
                                  digest=not measured)
        if ctx.tracer.enabled and measured:
            self._probe_sources(ctx, tag)
        drops = []
        n = self.n_drops
        for d in range(n):
            try:
                rec = self._drop(ctx, root, tag, d)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                tally.record(False, f"drop {tag}/{d}: {e!r}"[:300])
                return
            tally.record(True, "")
            drops.append(rec)
        ctx.group(f"etl|{tag}|check")
        if not self._check(ctx, f"{root}/stream", keyed, self.expected):
            # The final state cannot be attributed to one drop: every drop
            # of the cycle failed its output check.
            tally.failed += n
            tally.errors.append(f"cycle {tag}: output mismatch")
        if not measured or backfill is None:
            return
        self.backfill_s.append(backfill)
        self.latency_s += [r["latency"] for r in drops]
        self.drops += drops
        self.last_table_files = sum(
            1 for p in os.listdir(keyed) if p.endswith(".parquet"))

    def _check(self, ctx, out: str, keyed: str, expected: dict) -> bool:
        spark = ctx.spark
        return (_table_counts(spark, out) == expected["counts"]
                and _match_digest(spark, f"{out}/MATCH_FINISHED")
                == expected["match_digest"]
                and _parquet_rows(spark, keyed) == expected["keyed_rows"]
                and _match_digest(spark, keyed) == expected["keyed_digest"])

    def warmup(self, ctx: Context, tally: Tally) -> None:
        self._cycle(ctx, tally, "warm")

    def cycle(self, ctx: Context, tally: Tally, i: int) -> None:
        self._cycle(ctx, tally, str(i))

    def work_s(self) -> float:
        """One cycle at the run's medians: the median backfill plus
        ``n_drops`` times the median drop latency. The drops are one
        operation repeated, so their latencies are pooled; a drop slowed by
        the host barely moves the figure, where it would move a sum."""
        return median(self.backfill_s) + self.n_drops * median(self.latency_s)

    def layer_metrics(self, ctx: Context, log) -> dict:
        per = defaultdict(list)
        for r in self.drops:
            a, m = r["append"], r["merge"]
            trig = a["trigger"] + m["trigger"]
            add = a["add_batch"] + m["add_batch"]
            per["trigger"].append(trig)
            per["add_batch"].append(add)
            per["overhead"].append(trig - add)
            per["start_stop"].append(r["latency"] - trig)
            per["batches"].append(a["batches"] + m["batches"])
            per["merge"].append(m["add_batch"])
        totals = log.totals(log.jobs_in_groups(self.backfill_groups))
        base = self.expected_backfill["input_records"] * len(self.backfill_s)
        rewritten = log.totals(log.jobs_in_groups(
            r["merge"]["run_id"] for r in self.drops))["records_written"]
        drop_rows = sum(r["merge"]["rows"] for r in self.drops)
        t = tail(self.latency_s)
        return {
            "plans.transform_s": median(self.transform_s),
            "sources.scan_s": median(self.scan_s),
            "sources.read_amp": totals["records_read"] / base,
            "sources.merge_s": median(per["merge"]),
            "sources.merge_rewrite_amp": rewritten / drop_rows,
            "sources.table_files": self.last_table_files,
            "streaming.trigger_s": median(per["trigger"]),
            "streaming.add_batch_s": median(per["add_batch"]),
            "streaming.overhead_s": median(per["overhead"]),
            "streaming.start_stop_s": median(per["start_stop"]),
            "streaming.batches": median(per["batches"]),
            "work.backfill_s": median(self.backfill_s),
            "work.matches_per_s": self.expected_backfill["input_records"]
            / median(self.backfill_s),
            "work.drop_s": median(self.latency_s),
            "work.drop_tail_s": t[1] if t else max(self.latency_s),
            "_bases": {
                "sources.read_amp": {
                    "records_read": totals["records_read"],
                    "input_records": base},
                "sources.merge_rewrite_amp": {
                    "records_written": rewritten,
                    "rows_in_drops": drop_rows},
                "work.drop_tail_s": {
                    "samples": len(self.latency_s),
                    "percentile": t[0] if t else 100.0}},
        }


# ---------------------------------------------------------------------------
# llm_corpus: registry queries, build call then noop write
# ---------------------------------------------------------------------------


class LlmCorpus:
    """Registry queries of the LLM-data operators over a seeded corpus. One
    pass runs every query once: the builder call, then a noop write."""

    name = "llm_corpus"
    queries = LLM_QUERIES
    sf = 0.01
    n_docs = 500
    n_vecs = 500
    #: Threads of the (untimed) cold pass.
    cold_threads = 3

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        """Forget the samples; keep the prepared inputs."""
        self.build_s = defaultdict(list)
        self.exec_s = defaultdict(list)
        self.build_jobs = defaultdict(list)
        self.exec_jobs = defaultdict(list)

    def prepare(self, ctx: Context) -> None:
        from data_pipeline_eng_project_1_spark.plans import queries as Q

        from oracles import OracleCache

        specs = {s.name: s for s in Q.specs()}
        self.specs = [specs[q] for q in self.queries]
        self.sf_dir = tables_gen.write_tables(
            ctx.path("tables"), ctx.seed, self.sf, self.n_docs, self.n_vecs)
        self.oracles = OracleCache(self.sf_dir, os.path.join(
            os.path.dirname(ctx.work_dir), "oracle-cache.json"))

    def setup_op(self, spark) -> None:
        catalog.load_table(spark, "embeddings", self.sf_dir)
        _noop(catalog.load_table(spark, "documents", self.sf_dir))

    def warmup(self, ctx: Context, tally: Tally) -> None:
        """The cold pass: every query built and collected once, its rows
        compared with the DuckDB oracle (not timed). It is not timed, so the
        queries run on a few threads at once, and the oracles on one more
        thread beside them; that shortens the run, not what it measures."""
        from concurrent.futures import ThreadPoolExecutor

        from oracles import digest

        def spark_side(spec):
            df = spec.builder(ctx.spark, self.sf_dir)
            return digest(df.collect(), df.columns)

        def outcome(future):
            try:
                return future.result()
            except Exception as e:  # noqa: BLE001 - counted as failed
                return e

        with ThreadPoolExecutor(1) as duck, \
                ThreadPoolExecutor(self.cold_threads) as pool:
            expected = [duck.submit(self.oracles.expected, s.oracle)
                        for s in self.specs]
            got = [pool.submit(spark_side, s) for s in self.specs]
            for spec, e, g in zip(self.specs, expected, got):
                e, g = outcome(e), outcome(g)
                for side in (e, g):
                    if isinstance(side, Exception):
                        tally.record(False, f"{spec.name}: {side!r}"[:300])
                        break
                else:
                    tally.record(g == e, f"{spec.name}: differs from oracle")
        self.oracles.save()

    def cycle(self, ctx: Context, tally: Tally, i: int) -> None:
        for spec in self.specs:
            q = spec.name
            try:
                with ctx.tracer.span("query", query=q, iteration=i):
                    bg = ctx.group(f"{q}|build|{i}")
                    with ctx.tracer.span("plans.build", query=q) as b:
                        df = spec.builder(ctx.spark, self.sf_dir)
                    eg = ctx.group(f"{q}|exec|{i}")
                    with ctx.tracer.span("operators.exec", query=q) as e:
                        _noop(df)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                tally.record(False, f"{q} pass {i}: {exc!r}"[:300])
                continue
            tally.record(True, "")
            self.build_s[q].append(b.duration)
            self.exec_s[q].append(e.duration)
            self.build_jobs[q].append(ctx.jobs(bg))
            self.exec_jobs[q].append(ctx.jobs(eg))

    def work_s(self) -> float:
        return sum(median([b + e for b, e in zip(self.build_s[q],
                                                  self.exec_s[q])])
                   for q in self.queries)

    def layer_metrics(self, ctx: Context, log) -> dict:
        out = {
            "plans.build_s": sum(median(self.build_s[q])
                                 for q in self.queries),
            "plans.exec_s": sum(median(self.exec_s[q])
                                for q in self.queries),
            "plans.build_jobs": sum(median(self.build_jobs[q])
                                    for q in self.queries),
            "plans.exec_jobs": sum(median(self.exec_jobs[q])
                                   for q in self.queries),
        }
        for q in self.queries:
            out[f"plans.build_s.{q}"] = median(self.build_s[q])
            out[f"plans.exec_s.{q}"] = median(self.exec_s[q])
        return out


WORKLOADS = {w.name: w for w in (Etl, LlmCorpus)}
