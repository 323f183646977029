"""Seeded input generator for the benchmark's two input families.

* ``reference``: the five reference pipeline CSVs (users, buy-clicks,
  game-clicks, user-session, team) in the column order of
  ``pyspark_kmeans_spark.schemas``, with the FIXTURES.md §A edge cases:
  users with no buys, users with no team, users on several teams,
  birth dates after the reference date (age <= 0), zero-price sessions
  and repeated (userId, userSessionId) buy rows.
* ``corpus``: ``documents.parquet`` and ``embeddings.parquet`` in the
  testdata schema.  The daily batch (``doc_id % 5 == 0``, the engine's
  batch split) carries planted exact, near and semantic duplicates of
  earlier documents in known shares; every planted text duplicate is
  one the LSH keep set must drop.

Everything is drawn from one ``numpy.random.default_rng(seed)``, and the
writers are byte-deterministic, so one (seed, size) always gives the same
files.  ``ensure_inputs`` caches them under a (family, size, seed) key and
returns the cached directory; callers copy it before handing it to the
engine, whose artifacts are keyed by source path.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BATCH_MOD = 5
DIM = 64
VOCAB = 4000
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
N_SOURCES = 20
# Planted shares of the daily batch (doc_id % BATCH_MOD == 0).
SHARE_EXACT = 0.10  # verbatim copy of a corpus document
SHARE_EXACT_BATCH = 0.05  # verbatim copy of a lower-id batch document
SHARE_NEAR = 0.10  # corpus document with one token replaced
SHARE_SEMANTIC = 0.10  # new text, embedding next to a corpus document's

_WORDS = [f"w{i:04d}" for i in range(VOCAB)]


def _tokens(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(50, 110))
    return [_WORDS[i] for i in rng.integers(0, VOCAB, size=n)]


def _unit(rng: np.random.Generator, n: int) -> np.ndarray:
    v = rng.standard_normal((n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _docs_table(ids, texts, langs, sources) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def gen_corpus(out_dir: str, n_docs: int, seed: int) -> dict:
    """documents + embeddings with planted batch duplicates.  Returns the
    plan: which batch ids were planted as which kind."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    vecs = _unit(rng, n_docs)
    plan = {"exact": [], "exact_batch": [], "near": [], "semantic": []}
    corpus_ids: list[int] = []
    batch_ids: list[int] = []
    for doc_id in range(n_docs):
        toks = _tokens(rng)
        if doc_id % BATCH_MOD != 0 or doc_id == 0:
            if doc_id % BATCH_MOD != 0:
                corpus_ids.append(doc_id)
            else:
                batch_ids.append(doc_id)
            texts.append(" ".join(toks))
            continue
        u = rng.random()
        src = int(corpus_ids[int(rng.integers(0, len(corpus_ids)))])
        if u < SHARE_EXACT:
            plan["exact"].append(doc_id)
            texts.append(texts[src])
        elif u < SHARE_EXACT + SHARE_EXACT_BATCH:
            plan["exact_batch"].append(doc_id)
            texts.append(texts[batch_ids[int(rng.integers(0, len(batch_ids)))]])
        elif u < SHARE_EXACT + SHARE_EXACT_BATCH + SHARE_NEAR:
            plan["near"].append(doc_id)
            near = texts[src].split(" ")
            near[int(rng.integers(0, len(near)))] = f"x{doc_id}"
            texts.append(" ".join(near))
        elif u < SHARE_EXACT + SHARE_EXACT_BATCH + SHARE_NEAR + SHARE_SEMANTIC:
            plan["semantic"].append(doc_id)
            texts.append(" ".join(toks))
            v = vecs[src] + 0.05 * rng.standard_normal(DIM)
            vecs[doc_id] = v / np.linalg.norm(v)
        else:
            texts.append(" ".join(toks))
        batch_ids.append(doc_id)
    langs = [LANGS[i] for i in rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    sources = [f"src{i}" for i in rng.integers(0, N_SOURCES, size=n_docs)]
    ids = list(range(n_docs))
    _write_parquet(
        _docs_table(ids, texts, langs, sources),
        os.path.join(out_dir, "documents.parquet"),
    )
    emb = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [row.tolist() for row in vecs.astype(np.float32)],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(rng.integers(0, 10, size=n_docs), pa.int32()),
        }
    )
    _write_parquet(emb, os.path.join(out_dir, "embeddings.parquet"))
    return plan


def _write_csv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def gen_reference(out_dir: str, n_users: int, seed: int) -> dict:
    """The five reference CSVs for n_users users."""
    rng = np.random.default_rng(seed)
    t0 = dt.datetime(2016, 5, 1)

    def ts(i: int) -> str:
        return (t0 + dt.timedelta(seconds=int(i))).strftime("%Y-%m-%d %H:%M:%S")

    n_teams = max(4, n_users // 10)
    _write_csv(
        os.path.join(out_dir, "team.csv"),
        ["teamId", "name", "teamCreationTime", "teamEndTime", "strength", "currentLevel"],
        [
            [t, f"team{t}", ts(t), ts(t + 86400), round(float(rng.random()), 6),
             int(rng.integers(1, 10))]
            for t in range(n_teams)
        ],
    )
    users, buys, clicks, sessions = [], [], [], []
    session_id = tx = click = 0
    edge = {"no_buys": 0, "no_team": 0, "multi_team": 0, "age_le_0": 0,
            "zero_price": 0, "dup_buy": 0}
    for u in range(n_users):
        if rng.random() < 0.02:
            dob = dt.date(2016, 6, 16) + dt.timedelta(days=int(rng.integers(0, 400)))
            edge["age_le_0"] += 1
        else:
            dob = dt.date(1960, 1, 1) + dt.timedelta(days=int(rng.integers(0, 15000)))
        users.append([ts(u), u, f"nick{u}", f"@nick{u}", dob.isoformat(),
                      f"C{int(rng.integers(0, 30))}"])
        r = rng.random()
        if r < 0.05:
            teams = []
            edge["no_team"] += 1
        elif r < 0.15:
            teams = [int(t) for t in rng.choice(n_teams, size=2, replace=False)]
            edge["multi_team"] += 1
        else:
            teams = [int(rng.integers(0, n_teams))]
        no_buys = rng.random() < 0.05
        edge["no_buys"] += no_buys
        for _ in range(int(rng.integers(1, 5))):
            team = teams[int(rng.integers(0, len(teams)))] if teams else int(
                rng.integers(0, n_teams))
            sessions.append([ts(session_id), session_id, u, team, int(rng.integers(0, 100)),
                             "start", int(rng.integers(1, 10)), "pc"])
            for _ in range(int(rng.integers(2, 8))):
                clicks.append([ts(click), click, u, session_id, int(rng.random() < 0.3),
                               team, int(rng.integers(1, 10))])
                click += 1
            if not no_buys:
                for _ in range(int(rng.integers(1, 4))):
                    # continuous prices: k-means iteration counts then vary
                    # little between seeds
                    price = (0.0 if rng.random() < 0.03
                             else round(float(rng.lognormal(1.5, 0.8)), 2))
                    edge["zero_price"] += price == 0.0
                    row = [ts(tx), tx, session_id, team, u, int(rng.integers(0, 6)), price]
                    buys.append(row)
                    tx += 1
                    if rng.random() < 0.02:
                        buys.append(list(row))
                        edge["dup_buy"] += 1
            session_id += 1
        if not teams:
            # sessions exist but point at no team row: left join → strength null → 0
            for s in sessions[-4:]:
                if s[2] == u:
                    s[3] = n_teams + 1000 + u
    _write_csv(
        os.path.join(out_dir, "users.csv"),
        ["timestamp", "userId", "nick", "twitter", "dob", "country"],
        users,
    )
    _write_csv(
        os.path.join(out_dir, "buy-clicks.csv"),
        ["timestamp", "txId", "userSessionId", "team", "userId", "buyId", "price"],
        buys,
    )
    _write_csv(
        os.path.join(out_dir, "game-clicks.csv"),
        ["timestamp", "clickId", "userId", "userSessionId", "isHit", "teamId", "teamLevel"],
        clicks,
    )
    _write_csv(
        os.path.join(out_dir, "user-session.csv"),
        ["timestamp", "userSessionId", "userId", "teamId", "assignmentId",
         "sessionType", "teamLevel", "platformType"],
        sessions,
    )
    return {"edge_cases": edge}


FAMILIES = {"reference": gen_reference, "corpus": gen_corpus}


def ensure_inputs(cache_root: str, family: str, size: int, seed: int) -> tuple[str, dict]:
    """Generate (once) and return (directory, plan) for one input set.
    The key carries a hash of this file, so a generator change never
    serves inputs cached by an older one; the entry appears atomically,
    so a torn generation never serves either."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    key = os.path.join(cache_root, f"{family}-n{size}-s{seed}-g{version}")
    plan_path = os.path.join(key, "plan.json")
    if not os.path.exists(plan_path):
        tmp = f"{key}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        plan = FAMILIES[family](tmp, size, seed)
        with open(os.path.join(tmp, "plan.json"), "w") as f:
            json.dump(plan, f, sort_keys=True)
        shutil.rmtree(key, ignore_errors=True)
        os.rename(tmp, key)
    with open(plan_path) as f:
        return key, json.load(f)
