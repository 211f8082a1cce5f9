"""Seeded inputs and their independent oracles.

Every input is a pure function of the workload seed and is written with
pyarrow straight into the run's work directory, so set-up starts no Spark
job of its own. The oracles are the package's independent
re-implementations (``golden/oracle.py`` for the combat path,
``golden/sketch_oracle.py`` through DuckDB for the sketch/ANN operators);
each is computed once per run and kept in memory.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from team_goldo_combat_log_parser_spark.golden import sketch_oracle
from team_goldo_combat_log_parser_spark.golden.oracle import run_oracle
from team_goldo_combat_log_parser_spark.sources import datagen as dg

TOKEN_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
])

ROUTE_FLAGS = {"r_enter": "enter", "r_damage_done": "damage_done",
               "r_damage_received": "damage_received", "r_fa": "fa",
               "r_heal": "heal", "r_exit": "exit", "r_threat": "threat"}
# aggregate tables the runner writes that the oracle reproduces row for row
ORACLE_TABLES = ("damage_done_skills", "damage_received_skills", "heal",
                 "threat")


def combat_logs(cfg: dg.GenConfig) -> list[tuple[str, list[str]]]:
    """(filename, lines) per log, built by ``datagen.synth_log_rows``."""
    logs = []
    for i in range(cfg.n_logs):
        rows = dg.synth_log_rows(cfg, i)
        logs.append((rows[0][2], [line for _, line, _ in rows]))
    return logs


def token_table(logs: list[tuple[str, list[str]]],
                pieces: list[tuple[int, int]] | None = None) -> pa.Table:
    """Token table (doc_id, tokens, n_tok, source) for ``logs``; with
    ``pieces`` only lines [lo, hi) of each log, in the same log order."""
    doc_ids, blobs, sources = [], [], []
    for k, (fname, lines) in enumerate(logs):
        log_name = fname.rsplit(".", 1)[0]
        lo, hi = pieces[k] if pieces else (0, len(lines))
        for i in range(lo, hi):
            doc_ids.append(f"{log_name}:{i:08d}")
            blobs.append(lines[i].encode("iso-8859-1"))
            sources.append(fname)
    lens = np.fromiter(map(len, blobs), dtype=np.int32, count=len(blobs))
    offs = np.zeros(len(blobs) + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    vals = np.frombuffer(b"".join(blobs), dtype=np.uint8).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offs), pa.array(vals))
    return pa.Table.from_arrays(
        [pa.array(doc_ids), tokens, pa.array(lens), pa.array(sources)],
        schema=TOKEN_SCHEMA)


def write_files(table: pa.Table, path: str, files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * per, per),
                       os.path.join(path, f"part-{k:05d}.parquet"))


# --------------------------------------------------------------- combat oracle

_FMT = "%Y-%m-%d %H:%M:%S.%f"


@dataclass
class CombatExpect:
    """What the oracle says a full run over the corpus must produce."""
    route_counts: dict[str, int]
    tables: dict[str, set[tuple]]
    pulls: set[tuple]          # as the batch runner writes them
    stream_pulls: set[tuple]   # as the streaming fold emits them


def combat_oracle(logs: list[tuple[str, list[str]]]) -> CombatExpect:
    res = run_oracle(logs)
    pulls = set()
    for log_id, seq, start, stop, target, player, total in res.table("pulls"):
        start_t = dt.datetime.strptime(start, _FMT)
        stop_t = dt.datetime.strptime(stop, _FMT)
        if stop_t < start_t:  # midnight rollover, as the batch path applies
            stop_t += dt.timedelta(days=1)
        pulls.add((log_id, seq, start_t.strftime(_FMT)[:-3],
                   stop_t.strftime(_FMT)[:-3], target, player, total))
    return CombatExpect(
        route_counts=dict(res.route_counts),
        tables={t: res.table(t) for t in ORACLE_TABLES},
        pulls=pulls, stream_pulls=res.table("pulls"))


def _read(out: str, table: str, cols: str = "* EXCLUDE (commit, log_date)"):
    return duckdb.sql(
        f"SELECT {cols} FROM read_parquet('{out}/{table}/**/*.parquet', "
        "hive_partitioning = true)").fetchall()


def check_runner_output(out: str, routed: dict, want: CombatExpect) -> list[str]:
    """Compare one runner invocation's committed output with the oracle:
    the routed per-handler counts of the manifest record and the
    aggregate/pull tables read back from parquet. Returns the mismatches."""
    bad = [f"routed {flag}" for flag, name in ROUTE_FLAGS.items()
           if (routed.get(flag) or 0) != want.route_counts[name]]
    for t in ORACLE_TABLES:
        if set(_read(out, t)) != want.tables[t]:
            bad.append(t)
    pulls = set(_read(out, "pulls", cols=(
        "log_id, fight_seq, strftime(pull_start, '%Y-%m-%d %H:%M:%S.%g'), "
        "strftime(pull_stop, '%Y-%m-%d %H:%M:%S.%g'), target, "
        "players_set[1], total_damage")))
    if pulls != want.pulls:
        bad.append("pulls")
    return bad


def check_stream_output(out: str, want: CombatExpect) -> list[str]:
    got = set(duckdb.sql(
        "SELECT log_id, fight_seq, pull_start, pull_stop, target, player, "
        f"total_damage FROM read_parquet('{out}/*.parquet')").fetchall())
    return [] if got == want.stream_pulls else ["stream pulls"]


# ------------------------------------------------------- documents + vectors

def _vocabulary(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters)
                          for _ in range(rng.randint(3, 8))))
    return sorted(words)


def write_documents(path: str, seed: int, n_docs: int,
                    cluster_size: int = 4, vocab: int = 300) -> None:
    """``documents.parquet`` with planted near-duplicate clusters: every
    base text has ``cluster_size - 1`` copies carrying 1-3 word-level
    edits (substitute, delete or insert), in the schema of the testdata
    ``documents`` table (doc_id, text, lang, source, n_chars)."""
    rng = random.Random(seed)
    words = _vocabulary(rng, vocab)
    texts: list[str] = []
    while len(texts) < n_docs:
        base = [rng.choice(words) for _ in range(rng.randint(20, 60))]
        texts.append(" ".join(base))
        for _ in range(cluster_size - 1):
            edit = list(base)
            for _ in range(rng.randint(1, 3)):
                i = rng.randrange(len(edit))
                op = rng.random()
                if op < 0.5:
                    edit[i] = rng.choice(words)
                elif op < 0.75 and len(edit) > 1:
                    del edit[i]
                else:
                    edit.insert(i, rng.choice(words))
            texts.append(" ".join(edit))
    order = list(range(n_docs))
    rng.shuffle(order)  # clusters are not contiguous in doc_id order
    texts = [texts[i] for i in order]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": ["en"] * n_docs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(path, "documents.parquet"))


def write_embeddings(path: str, seed: int, n: int, n_clusters: int) -> None:
    """``embeddings.parquet`` (vec_id, embedding, label) from
    ``datagen.clustered_embeddings``: planted clusters of near-duplicate
    vectors, label = cluster id."""
    ids, m = dg.clustered_embeddings(n, dim=64, n_clusters=n_clusters,
                                     seed=seed)
    flat = pa.array(m.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, m.size + 1, m.shape[1], dtype=np.int32))
    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.ListArray.from_arrays(offs, flat),
        "label": pa.array([i % n_clusters for i in ids], pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))


def sketch_oracle_rows(path: str) -> dict[str, list[tuple]]:
    """Sorted result rows of each sketch query by the DuckDB oracle."""
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{path}/documents.parquet')")
        # DuckDB 1.0 casts FLOAT to DECIMAL(18,9) off by a few units in the
        # last place (0.093599476 -> 0.093599472), which flips the floor
        # of a cosine now and then; widening to DOUBLE first is exact and
        # makes the oracle's DECIMAL cast round the stored value exactly.
        con.execute("CREATE VIEW embeddings AS SELECT vec_id, "
                    "CAST(embedding AS DOUBLE[]) AS embedding, label FROM "
                    f"read_parquet('{path}/embeddings.parquet')")
        sql = {"doc_minhash_lsh_pairs": sketch_oracle.minhash_sql(path),
               "doc_simhash_near_pairs": sketch_oracle.simhash_sql(path),
               "emb_cosine_near_dup": sketch_oracle.cosine_near_dup_sql(path)}
        return {q: sorted(tuple(r) for r in con.sql(query).fetchall())
                for q, query in sql.items()}
    finally:
        con.close()
