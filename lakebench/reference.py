"""Reference answers that share no state with the timed Spark session.

Each check reads the lake files as they stand when it runs:

- column kNN, content similarity and keyword BM25 come from the
  engine's own DuckDB oracle SQL (``signature_knn_oracle``,
  ``content_similarity_oracle``, ``bm25_search_oracle``) run on DuckDB;
- the combined dataset search has no oracle SQL (its bipartite matching
  is not SQL), so it is recomputed here in plain Python from the DuckDB
  content similarities, the table schemas (the catalog's metadata
  fields) and the published scoring rules.

A check returns ``None`` when the answer is right, else a short reason.
"""

from __future__ import annotations

import glob
import math
import os
import re
from collections import defaultdict
from functools import lru_cache

import duckdb
import pyarrow.parquet as pq

from danae_spark.search.knn import content_similarity_oracle, signature_knn_oracle
from danae_spark.search.metadata import bm25_search_oracle

from lakegen import TABLES, table_path, write_lake, write_table_version

TOL = 2e-6
K1, B = 1.2, 0.75
CATALOG_BOOSTS = {"title": 2.0, "keywords": 1.5, "description": 1.0}
TYPES = ("Numeric", "Temporal", "Categorical", "Spatial")


def rnd(x: float, d: int) -> float:
    scale = float(10**d)
    return math.floor(x * scale + 0.5001) / scale


def _parquet_source(lake_dir: str, name: str) -> str:
    """A plain file as generated, or the part files of a directory that a
    Spark write left in its place."""
    path = table_path(lake_dir, name)
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def _columns(lake_dir: str, name: str) -> list[str]:
    path = table_path(lake_dir, name)
    if os.path.isdir(path):
        path = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    return pq.read_schema(path).names


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _close(a: float, b: float) -> bool:
    return abs(float(a) - float(b)) <= TOL


class LakeReference:
    """Oracle answers for one lake directory, read from its files on
    every call."""

    def __init__(self, lake_dir: str):
        self.lake_dir = lake_dir

    def _duck(self, *sqls: str) -> list[list[tuple]]:
        """Run each query on one DuckDB connection over the current files."""
        con = duckdb.connect()
        try:
            for t in TABLES:
                src = _parquet_source(self.lake_dir, t).replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
            return [con.sql(sql).fetchall() for sql in sqls]
        finally:
            con.close()

    # ------------------------------------------------------------ oracles
    def content_sims(self) -> list[tuple]:
        """(q_table, q_column, col_type, cand_table, cand_column, dist, sim, rank)."""
        return self._duck(content_similarity_oracle())[0]

    def similar_columns(self, table: str, k: int = 3) -> list[tuple]:
        rows = self._duck(signature_knn_oracle(k))[0]
        return [r for r in rows if r[0] == table]

    def keywords(self, queries: list[tuple[str, int]]) -> dict[tuple[str, int], list[tuple]]:
        """(query, k) -> [(doc_id, score, norm_score, rank)]."""
        answers = self._duck(*(bm25_search_oracle(q, k) for q, k in queries))
        return dict(zip(queries, answers))

    # ------------------------------------------------- combined search
    def metadata_scores(self) -> dict[tuple[str, str], float]:
        """Pairwise boosted BM25 between datasets over the catalog fields
        (title = name, keywords = column names, description = a sentence
        over both), normalised per query dataset by its best candidate."""
        toks: dict[tuple[str, str], list[str]] = {}
        for t in TABLES:
            cols = " ".join(_columns(self.lake_dir, t))
            toks[(t, "title")] = _tokens(t)
            toks[(t, "keywords")] = _tokens(cols)
            toks[(t, "description")] = _tokens(f"{t} lake table containing columns {cols}")
        datasets = {d for (d, _f), ts in toks.items() if ts}
        n = len(datasets)
        dl = {key: len(ts) for key, ts in toks.items() if ts}
        avgdl: dict[str, float] = {}
        for f in CATALOG_BOOSTS:
            lens = [v for (d, ff), v in dl.items() if ff == f]
            avgdl[f] = sum(lens) / len(lens)
        tf: dict[tuple[str, str], dict[str, int]] = {}
        df: dict[tuple[str, str], int] = defaultdict(int)
        for key, ts in toks.items():
            counts: dict[str, int] = defaultdict(int)
            for t in ts:
                counts[t] += 1
            tf[key] = counts
            for t in counts:
                df[(key[1], t)] += 1
        raw: dict[tuple[str, str], float] = {}
        for q in datasets:
            for c in datasets - {q}:
                s, hit = 0.0, False
                for f, boost in CATALOG_BOOSTS.items():
                    ctf = tf.get((c, f), {})
                    for term in set(toks[(q, f)]):
                        if term not in ctf:
                            continue
                        hit = True
                        idf = math.log(1 + (n - df[(f, term)] + 0.5) / (df[(f, term)] + 0.5))
                        x = ctf[term]
                        s += boost * idf * x * (K1 + 1) / (
                            x + K1 * (1 - B + B * dl[(c, f)] / avgdl[f])
                        )
                if hit:
                    raw[(q, c)] = rnd(s, 6)
        best: dict[str, float] = defaultdict(float)
        for (q, _c), s in raw.items():
            best[q] = max(best[q], s)
        return {key: rnd(s / best[key[0]], 6) for key, s in raw.items()}



def search_scores(
    sims: list[tuple],
    meta: dict[tuple[str, str], float],
    w_content: float,
    w_metadata: float,
    type_weights: dict[str, float] | None,
) -> dict[str, dict[str, tuple[float, float, float]]]:
    """Combined-search scores, q_table -> cand_table -> (content, metadata,
    overall): per (query, candidate) dataset pair, the max-weight bipartite
    matching over type-weighted column similarities, blended with the
    metadata score."""
    tw = dict.fromkeys(TYPES, 1.0) if type_weights is None else type_weights
    edges: dict[tuple[str, str], dict[tuple, float]] = defaultdict(dict)
    for q_table, q_column, col_type, cand_table, cand_column, _d, sim, _r in sims:
        w = float(tw.get(col_type, 1.0)) * float(sim)
        key = ((q_column, col_type), cand_column)
        group = edges[(q_table, cand_table)]
        if w > group.get(key, 0.0):
            group[key] = w
    content = {pair: round(_max_weight_matching(g), 6) for pair, g in edges.items()}
    out: dict[str, dict[str, tuple[float, float, float]]] = defaultdict(dict)
    for q, c in set(content) | set(meta):
        cs, ms = content.get((q, c), 0.0), meta.get((q, c), 0.0)
        out[q][c] = (cs, ms, rnd(w_content * cs + w_metadata * ms, 6))
    return dict(out)


def weights_key(w_content, w_metadata, type_weights) -> tuple:
    tw = None if type_weights is None else tuple(sorted(type_weights.items()))
    return (w_content, w_metadata, tw)


def prepare(lake_dir: str, seed: int, sf: float, searches: list[dict], keywords: list[dict]) -> dict:
    """Write the lake, then every reference answer the cold build and the
    serving mix need. Runs in a helper process before the session starts,
    so its memory and CPU stay out of the measured process."""
    rows = write_lake(lake_dir, seed, sf)
    ref = LakeReference(lake_dir)
    sims, meta = ref.content_sims(), ref.metadata_scores()
    params = {weights_key(0.6, 0.4, None): (0.6, 0.4, None)}
    for q in searches:
        params[weights_key(q["w_content"], q["w_metadata"], q["type_weights"])] = (
            q["w_content"], q["w_metadata"], q["type_weights"],
        )
    return {
        "rows": rows,
        "search": {key: search_scores(sims, meta, *p) for key, p in params.items()},
        "keyword": ref.keywords(sorted({(q["query"], q["k"]) for q in keywords})),
    }


def prepare_version(lake_dir: str, staging: str, table: str, seed: int, version: int, sf: float) -> int:
    """Write a new version of `table` to `staging`; returns its row count."""
    write_table_version(staging, table, seed, version, sf)
    return pq.read_metadata(staging).num_rows


def refresh_reference(lake_dir: str, table: str) -> tuple[list[tuple], dict]:
    """Similar columns of `table` and its combined-search scores, from
    the lake files as they stand now."""
    ref = LakeReference(lake_dir)
    scores = search_scores(ref.content_sims(), ref.metadata_scores(), 0.6, 0.4, None)
    return ref.similar_columns(table, 3), scores.get(table, {})


def _max_weight_matching(weights: dict[tuple, float]) -> float:
    """Exact maximum-weight bipartite matching (matchings need not be
    perfect) by exhaustive search over the smaller side's assignments."""
    left = sorted({a for a, _ in weights})
    right = sorted({b for _, b in weights})
    if len(left) > len(right):
        weights = {(b, a): w for (a, b), w in weights.items()}
        left, right = right, left
    idx = {b: i for i, b in enumerate(right)}
    rows = [[(idx[b], w) for (a, b), w in weights.items() if a == l] for l in left]

    @lru_cache(maxsize=None)
    def best(i: int, used: int) -> float:
        if i == len(rows):
            return 0.0
        top = best(i + 1, used)
        for j, w in rows[i]:
            if not used >> j & 1:
                top = max(top, w + best(i + 1, used | 1 << j))
        return top

    return best(0, 0)


# ------------------------------------------------------------- checks


def check_search(rows, scores: dict[str, tuple], q_table: str, k: int) -> str | None:
    """Top-k check that tolerates ties: every returned candidate carries
    the reference scores, ranks run 1..n in score order, and no omitted
    candidate beats the last one returned."""
    n = min(k, len(scores))
    if len(rows) != n:
        return f"{q_table}: {len(rows)} rows, expected {n}"
    prev = math.inf
    for i, r in enumerate(rows, start=1):
        if r.q_table != q_table or r.rank != i:
            return f"{q_table}: row {i} is ({r.q_table}, rank {r.rank})"
        ref = scores.get(r.cand_table)
        if ref is None:
            return f"{q_table}: unexpected candidate {r.cand_table}"
        got = (r.content_score, r.metadata_score, r.overall_score)
        if not all(_close(a, b) for a, b in zip(got, ref)):
            return f"{q_table}->{r.cand_table}: scores {got} != reference {ref}"
        if r.overall_score > prev + TOL:
            return f"{q_table}: rank {i} scores above rank {i - 1}"
        prev = r.overall_score
    returned = {r.cand_table for r in rows}
    left = [s[2] for c, s in scores.items() if c not in returned]
    if left and rows and max(left) > rows[-1].overall_score + TOL:
        return f"{q_table}: an omitted candidate scores {max(left)}"
    return None


def check_lake_search(rows, scores: dict[str, dict[str, tuple]], k: int) -> str | None:
    by_q = defaultdict(list)
    for r in rows:
        by_q[r.q_table].append(r)
    if set(by_q) != set(scores):
        return f"query datasets {sorted(by_q)} != {sorted(scores)}"
    for q, q_rows in by_q.items():
        bad = check_search(q_rows, scores[q], q, k)
        if bad:
            return bad
    return None


def check_keyword(rows, expected: list[tuple]) -> str | None:
    if len(rows) != len(expected):
        return f"{len(rows)} hits, expected {len(expected)}"
    for r, (doc_id, score, norm, rank) in zip(rows, expected):
        if (r.doc_id, r.rank) != (doc_id, rank) or not (
            _close(r.score, score) and _close(r.norm_score, norm)
        ):
            return f"hit {tuple(r)} != reference {(doc_id, score, norm, rank)}"
    return None


def check_similar_columns(rows, expected: list[tuple]) -> str | None:
    def key(r):
        return (r[1], r[2], r[6])

    got = sorted((tuple(r) for r in rows), key=key)
    exp = sorted(expected, key=key)
    if len(got) != len(exp):
        return f"{len(got)} neighbour rows, expected {len(exp)}"
    for g, e in zip(got, exp):
        if g[:5] != e[:5] or g[6] != e[6] or not _close(g[5], e[5]):
            return f"neighbour {g} != reference {e}"
    return None


if __name__ == "__main__":  # helper-process entry: reference.py <request.pkl> <result.pkl>
    import pickle
    import sys

    with open(sys.argv[1], "rb") as f:
        fn, args = pickle.load(f)
    result = globals()[fn](*args)
    with open(sys.argv[2], "wb") as f:
        pickle.dump(result, f)
