"""The workloads: set-up, one untraced repetition, one traced one.

``rep`` times exactly what a user waits for and then checks the output
against the oracle outside the timed region. ``trace`` re-runs the same
work layer by layer through the package's public functions, each layer's
output materialized inside its span, and returns the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from team_goldo_combat_log_parser_spark.functions import grammar
from team_goldo_combat_log_parser_spark.operators import similarity, text
from team_goldo_combat_log_parser_spark.plans import aggregate as agg
from team_goldo_combat_log_parser_spark.plans.pipeline import run_pipeline
from team_goldo_combat_log_parser_spark.plans.route import (
    sink_filters, with_routes)
from team_goldo_combat_log_parser_spark.plans.sessionize import (
    assign_fights, build_fights)
from team_goldo_combat_log_parser_spark.runner import cli
from team_goldo_combat_log_parser_spark.runner.checkpoint import (
    Manifest, filter_unprocessed)
from team_goldo_combat_log_parser_spark.sources import datagen as dg
from team_goldo_combat_log_parser_spark.streaming.stream_pipeline import (
    run_stream_once)

import inputs

AGG_TABLES = ("damage_done_skills", "damage_received_skills", "heal",
              "threat", "pulls", "rates")


@dataclass
class Rep:
    wall_s: float
    latencies: list[float]   # the requests a user waits on, in seconds
    events: int              # work items the repetition completed
    errors: list[str] = field(default_factory=list)


def _noop(df) -> None:
    """Materialize every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


def _tree_bytes(path: str) -> tuple[int, int]:
    """Total size and count of the parquet files under ``path``."""
    files = [p for p in glob.glob(f"{path}/**/*.parquet", recursive=True)
             if os.path.isfile(p)]
    return sum(os.path.getsize(p) for p in files), len(files)


def _storage_bytes(spark) -> int:
    """Memory + disk held by every persisted RDD/DataFrame right now."""
    return sum(i.memSize() + i.diskSize()
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


# ---------------------------------------------------------------- fight_dense

class FightDense:
    """``runner.cli.main`` over many short fights per log."""

    def __init__(self, smoke: bool):
        self.cfg_args = (2, 6, 10) if smoke else (4, 300, 12)

    def setup(self, spark, work: str, seed: int) -> None:
        cfg = dg.GenConfig(*self.cfg_args, seed=seed)
        logs = inputs.combat_logs(cfg)
        self.work = work
        self.tokens = os.path.join(work, "tokens")
        inputs.write_files(inputs.token_table(logs), self.tokens, files=4)
        self.want = inputs.combat_oracle(logs)

    def _dirs(self, tag: str) -> tuple[str, str, str]:
        base = os.path.join(self.work, tag)
        shutil.rmtree(base, ignore_errors=True)
        return base, os.path.join(base, "out"), os.path.join(base, "ckpt")

    @staticmethod
    def _routed(ckpt: str) -> dict:
        (rec,) = Manifest(ckpt).records()
        return rec["metrics"]["routed"]

    def rep(self, spark) -> Rep:
        base, out, ckpt = self._dirs("rep")
        argv = ["--input", self.tokens, "--output", out, "--checkpoint", ckpt]
        with contextlib.redirect_stdout(io.StringIO()):
            t0 = time.perf_counter()
            cli.main(argv)
            wall = time.perf_counter() - t0
        routed = self._routed(ckpt)
        errors = inputs.check_runner_output(out, routed, self.want)
        shutil.rmtree(base, ignore_errors=True)
        return Rep(wall, [wall], sum(routed.values()), errors)

    def trace(self, spark, tr) -> tuple[dict, list[str]]:
        """The runner's work, layer by layer, from its public functions.
        Each layer's output is persisted and counted inside its span, so
        the next layer starts from it; the difference to the untraced
        invocation is reported as tracing overhead."""
        base, out, ckpt = self._dirs("trace")
        m: dict = {}
        keep = []
        # the runner's parse projection, taken from the (lazy) plan
        slim = run_pipeline(spark, cli.read_tokens(spark, self.tokens),
                            cache=False).parsed.columns
        with tr.span("runner"):
            manifest = Manifest(ckpt)
            with tr.span("sources", group="sources"):
                todo = filter_unprocessed(cli.read_tokens(spark, self.tokens),
                                          manifest)
                srcs = [r["source"] for r in
                        todo.select("source").distinct().collect()]
                m["sources.rows"] = todo.count()
            m["sources.read_bytes"] = _tree_bytes(self.tokens)[0]
            with tr.span("grammar", group="grammar"):
                before = _storage_bytes(spark)
                with tr.span("grammar.detok"):
                    lines = (grammar.detokenize_lines(todo, keep_tokens=False)
                             .select("doc_id", "source", "line").persist())
                    lines.count()
                lines_bytes = _storage_bytes(spark) - before
                with tr.span("grammar.parse"):
                    obs = Observation("parse")
                    parsed = grammar.parse_lines(lines).select(*slim).persist()
                    parsed.observe(
                        obs, F.count(F.lit(1)).alias("rows"),
                        F.count_if(F.col("ts").isNull()).alias("null_ts"),
                        F.count_if(F.col("is_enter") | F.col("is_leave")
                                   | F.col("is_death")).alias("markers"),
                    ).count()
            keep += [lines, parsed]
            m["grammar.rows_out"] = obs.get["rows"]
            m["grammar.parse_null_ts"] = obs.get["null_ts"]
            m["sessionize.marker_rows"] = obs.get["markers"]
            with tr.span("sessionize", group="sessionize"):
                with tr.span("sessionize.fights"):
                    fights = build_fights(parsed).cache()
                    m["sessionize.fights"] = fights.count()
                with tr.span("sessionize.assign"):
                    obs = Observation("assign")
                    assigned = assign_fights(parsed, fights).persist()
                    assigned.observe(
                        obs, F.count(F.lit(1)).alias("rows"),
                        F.count_if(F.col("fight_seq").isNotNull())
                        .alias("in_fight")).count()
            keep += [fights, assigned]
            m["sessionize.assign_rows_out"] = obs.get["rows"]
            in_fight = obs.get["in_fight"]
            with tr.span("route", group="route"):
                before = _storage_bytes(spark)
                obs = Observation("route")
                routed = with_routes(assigned).persist()
                any_route = None
                for flag in inputs.ROUTE_FLAGS:
                    c = F.col(flag)
                    any_route = c if any_route is None else any_route | c
                routed.observe(
                    obs, *[F.count_if(F.col(f)).alias(f)
                           for f in inputs.ROUTE_FLAGS],
                    F.count_if(~F.coalesce(any_route, F.lit(False)))
                    .alias("unrouted")).count()
                routed_bytes = _storage_bytes(spark) - before
            keep.append(routed)
            routed_counts = {f: obs.get[f] for f in inputs.ROUTE_FLAGS}
            m["route.routed_events"] = sum(routed_counts.values())
            m["route.unrouted_rows"] = obs.get["unrouted"]
            m["pipeline.cache_bytes"] = lines_bytes + routed_bytes
            tables = {}
            with tr.span("aggregate", group="aggregate"):
                dd_pl = agg.damage_done_players(routed).persist()
                dr_pl = agg.damage_received_players(routed).persist()
                keep += [dd_pl, dr_pl]
                build = {
                    "damage_done_skills":
                        lambda: agg.damage_done_skills(routed),
                    "damage_received_skills":
                        lambda: agg.damage_received_skills(routed),
                    "heal": lambda: agg.heal_per_healer(routed, fights),
                    "threat": lambda: agg.threat_per_player(routed, fights),
                    "pulls": lambda: agg.build_pulls(fights, dd_pl),
                    "rates": lambda: agg.rates(tables["pulls"], dd_pl,
                                               tables["heal"], dr_pl),
                }
                for name in AGG_TABLES:
                    with tr.span(f"aggregate.{name}"):
                        tables[name] = build[name]().persist()
                        m[f"aggregate.{name}_rows"] = tables[name].count()
            keep += list(tables.values())
            with tr.span("runner.write", group="runner"):
                commit_id = manifest.new_commit_id(srcs)
                writes = [(f"sink_{k}", v)
                          for k, v in sink_filters(routed).items()]
                writes += [(k, tables[k]) for k in
                           ("pulls", "damage_done_skills",
                            "damage_received_skills", "heal", "threat",
                            "rates")]
                for name, df in writes:
                    cli.write_table(df, out, name, commit_id)
            with tr.span("runner.commit"):
                manifest.commit(srcs, {}, metrics={"routed": routed_counts},
                                commit_id=commit_id)
        m["sessionize.assign_probe_pairs"] = _probe_pairs(parsed, fights)
        m["sessionize.in_fight_ratio"] = (
            in_fight / m["sessionize.assign_probe_pairs"]
            if m["sessionize.assign_probe_pairs"] else 0.0)
        for x in keep:
            x.unpersist()
        m["sources.read_s"] = tr.duration("sources")
        m["grammar.detok_s"] = tr.duration("grammar.detok")
        m["grammar.parse_s"] = tr.duration("grammar.parse")
        m["sessionize.fights_s"] = tr.duration("sessionize.fights")
        m["sessionize.assign_s"] = tr.duration("sessionize.assign")
        m["route.s"] = tr.duration("route")
        m["aggregate.s"] = tr.duration("aggregate")
        for name in AGG_TABLES:
            m[f"aggregate.{name}_s"] = tr.duration(f"aggregate.{name}")
        m["runner.write_s"] = tr.duration("runner.write")
        m["runner.commit_s"] = tr.duration("runner.commit")
        m["runner.write_bytes"], m["runner.write_files"] = _tree_bytes(out)
        errors = inputs.check_runner_output(out, self._routed(ckpt),
                                            self.want)
        shutil.rmtree(base, ignore_errors=True)
        return m, errors


def _probe_pairs(parsed, fights) -> int:
    """Sum over logs of events x fights in that log: the candidate pairs
    the fight join's range predicate is evaluated on."""
    ev = parsed.groupBy("log_id").agg(F.count(F.lit(1)).alias("e"))
    fi = fights.groupBy("log_id").agg(F.count(F.lit(1)).alias("f"))
    row = ev.join(fi, "log_id").agg(
        F.sum(F.col("e") * F.col("f")).alias("p")).collect()[0]
    return int(row["p"] or 0)


# ------------------------------------------------------------------ live_feed

class _RunIds(StreamingQueryListener):
    """Collects the run id of every streaming query started; a query tags
    its micro-batch jobs with it as their job group."""

    def __init__(self):
        self.ids: list[str] = []

    def onQueryStarted(self, event):
        self.ids.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class LiveFeed:
    """Chunks cut mid-fight land one at a time; each arrival is one
    ``run_stream_once`` call on a shared checkpoint with a parquet sink.
    Closed loop: the next chunk lands after the previous call returns."""

    min_reps = 1

    def __init__(self, smoke: bool):
        self.cfg_args = (2, 2, 30) if smoke else (8, 4, 240)
        self.n_chunks = 3 if smoke else 10

    def setup(self, spark, work: str, seed: int) -> None:
        cfg = dg.GenConfig(*self.cfg_args, seed=seed)
        logs = inputs.combat_logs(cfg)
        self.work = work
        self.chunks = []
        os.makedirs(os.path.join(work, "chunks"))
        k = self.n_chunks
        for c in range(k):
            pieces = [(c * len(ls) // k, (c + 1) * len(ls) // k)
                      for _, ls in logs]
            path = os.path.join(work, "chunks", f"chunk-{c:05d}.parquet")
            pq.write_table(inputs.token_table(logs, pieces), path)
            self.chunks.append(path)
        self.want = inputs.combat_oracle(logs)
        self.n_lines = sum(len(lines) for _, lines in logs)

    def _replay(self, spark, tag: str, arrival_span=None, metrics=None):
        base = os.path.join(self.work, tag)
        shutil.rmtree(base, ignore_errors=True)
        in_dir, ckpt, out = (os.path.join(base, d)
                             for d in ("in", "ckpt", "out"))
        os.makedirs(in_dir)
        lat = []
        for c, staged in enumerate(self.chunks):
            hidden = os.path.join(in_dir, f".part-{c:05d}.parquet")
            shutil.copyfile(staged, hidden)
            ctx = arrival_span() if arrival_span else contextlib.nullcontext()
            with ctx:
                os.rename(hidden, os.path.join(in_dir, f"part-{c:05d}.parquet"))
                t0 = time.perf_counter()
                run_stream_once(spark, in_dir, ckpt, output_dir=out,
                                metrics=metrics)
                lat.append(time.perf_counter() - t0)
        errors = inputs.check_stream_output(out, self.want)
        shutil.rmtree(base, ignore_errors=True)
        return lat, errors

    def warmup(self, spark) -> Rep:
        """One whole feed: the first arrival pays the query's one-time
        start-up, and the JVM is still compiling through the rest (the
        next replay runs ~2x the compile time of later ones)."""
        return self.rep(spark)

    def rep(self, spark) -> Rep:
        lat, errors = self._replay(spark, "rep")
        return Rep(sum(lat), lat, self.n_lines, errors)

    def trace(self, spark, tr) -> tuple[dict, list[str]]:
        ids = _RunIds()
        spark.streams.addListener(ids)
        rows: list[dict] = []
        try:
            with tr.span("streaming"):
                lat, errors = self._replay(
                    spark, "trace", metrics=rows,
                    arrival_span=lambda: tr.span("streaming.arrival"))
        finally:
            spark.streams.removeListener(ids)
        for rid in ids.ids:
            tr.add_group("streaming", rid)
        trig = sorted(r["trigger_ms"] for r in rows
                      if r["trigger_ms"] is not None)
        m = {
            "streaming.trigger_ms": trig[len(trig) // 2] if trig else 0,
            "streaming.rows_in": sum(r["rows_in"] for r in rows),
            "streaming.pulls_out": sum(r["pulls_out"] for r in rows),
            "streaming.state_rows": rows[-1]["state_rows"] if rows else 0,
            "streaming.state_bytes": max((r["state_bytes"] for r in rows),
                                         default=0),
        }
        return m, errors


# --------------------------------------------------------------- doc_near_dup

class DocNearDup:
    """MinHash-LSH and SimHash pairs over documents with planted
    near-duplicate clusters, and embedding-cosine near-dup pairs over
    planted vector clusters."""

    QUERIES = {"doc_minhash_lsh_pairs": text.doc_minhash_lsh_pairs,
               "doc_simhash_near_pairs": text.doc_simhash_near_pairs,
               "emb_cosine_near_dup": similarity.emb_cosine_near_dup}

    def __init__(self, smoke: bool):
        self.n_docs = 60 if smoke else 800
        self.n_vec = 60 if smoke else 800

    def setup(self, spark, work: str, seed: int) -> None:
        self.dir = os.path.join(work, "docs")
        os.makedirs(self.dir)
        inputs.write_documents(self.dir, seed, self.n_docs)
        inputs.write_embeddings(self.dir, seed, self.n_vec,
                                n_clusters=max(self.n_vec // 5, 2))
        self.want = inputs.sketch_oracle_rows(self.dir)

    @staticmethod
    def _rows(tbl) -> list[tuple]:
        return sorted(zip(*(c.to_pylist() for c in tbl.columns)))

    def _check(self, name: str, tbl) -> list[str]:
        return [] if self._rows(tbl) == self.want[name] else [name]

    def rep(self, spark) -> Rep:
        lat, errors = [], []
        for name, query in self.QUERIES.items():
            t0 = time.perf_counter()
            tbl = query(spark, self.dir).toArrow()
            lat.append(time.perf_counter() - t0)
            errors += self._check(name, tbl)
        return Rep(sum(lat), lat, 2 * self.n_docs + self.n_vec, errors)

    def trace(self, spark, tr) -> tuple[dict, list[str]]:
        m, errors, got = {}, [], {}
        with tr.span("operators", group="operators"):
            with tr.span("operators.minhash_sig"):
                _noop(text.doc_minhash_signatures(spark, self.dir))
            with tr.span("operators.minhash"):
                got["doc_minhash_lsh_pairs"] = text.doc_minhash_lsh_pairs(
                    spark, self.dir).toArrow()
            with tr.span("operators.simhash_sig"):
                _noop(text.doc_simhash64(spark, self.dir))
            with tr.span("operators.simhash"):
                got["doc_simhash_near_pairs"] = text.doc_simhash_near_pairs(
                    spark, self.dir).toArrow()
            with tr.span("operators.emb_candidates"):
                m["operators.emb_candidates"] = similarity.lsh_candidates(
                    spark, self.dir).count()
            with tr.span("operators.emb_near_dup"):
                got["emb_cosine_near_dup"] = similarity.emb_cosine_near_dup(
                    spark, self.dir).toArrow()
        for name, tbl in got.items():
            errors += self._check(name, tbl)
        for key in ("minhash_sig", "minhash", "simhash_sig", "simhash",
                    "emb_near_dup"):
            m[f"operators.{key}_s"] = tr.duration(f"operators.{key}")
        m["operators.minhash_pairs"] = got["doc_minhash_lsh_pairs"].num_rows
        m["operators.simhash_pairs"] = got["doc_simhash_near_pairs"].num_rows
        m["operators.emb_pairs"] = got["emb_cosine_near_dup"].num_rows
        return m, errors


# ---------------------------------------------------------------- batch_night

class BatchNight:
    """The batch side in one repetition: ``runner.cli.main`` over many
    short fights per log (``FightDense``), then the three near-dup
    queries (``DocNearDup``). A runner invocation on this corpus spends
    about half its JVM CPU compiling freshly generated code, so single
    invocations vary by ~20%; every run measures two, and one process
    for both keeps the runs within the time the benchmark is given."""

    min_reps = 2

    def __init__(self, smoke: bool):
        self.fights = FightDense(smoke)
        self.docs = DocNearDup(smoke)

    def setup(self, spark, work: str, seed: int) -> None:
        self.fights.setup(spark, work, seed)
        self.docs.setup(spark, work, seed)

    def warmup(self, spark) -> Rep:
        return self.rep(spark)

    def rep(self, spark) -> Rep:
        a = self.fights.rep(spark)
        b = self.docs.rep(spark)
        return Rep(a.wall_s + b.wall_s, a.latencies + b.latencies,
                   a.events + b.events, a.errors + b.errors)

    def trace(self, spark, tr) -> tuple[dict, list[str]]:
        m, errors = self.fights.trace(spark, tr)
        m_ops, errors_ops = self.docs.trace(spark, tr)
        return {**m, **m_ops}, errors + errors_ops


WORKLOADS = {"batch_night": BatchNight, "live_feed": LiveFeed}
