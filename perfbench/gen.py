"""Seeded input generators, one per workload.

Each generator writes into a fresh directory and returns a small JSON-able
`truth` dict: the sizes, the expected answers and anything the JVM side needs
to check the program's outputs. The program under test only ever reads the
data files; the truth stays with the benchmark.

All randomness comes from numpy's PCG64 seeded with (seed, workload tag), so
the same seed gives byte-identical files.
"""
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


# ---------------------------------------------------------------------------
# sparkify_etl: song + log JSON in the reference's shape
# ---------------------------------------------------------------------------

def _sparkify_log(rng, n_events, n_users, view_share, dup_share):
    """One log: `n_events` distinct events plus exact duplicate rows, as
    the numeric columns LOG_SQL expands into the reference's 18 fields.

    Column formulas follow graft.etl.SparkifyBenchInput: song/artist keys
    from the event id (every NextSong row two-key-matches exactly one
    catalog row), `view` events become Home-page rows the pipeline filters.
    """
    e = np.arange(n_events, dtype=np.int64)
    user = rng.integers(1, n_users + 1, n_events)
    value = rng.integers(0, 20000, n_events) / 100.0
    view = rng.random(n_events) < view_share
    # strictly increasing ms timestamps (gap >= 1 ms): distinct rows, and
    # ~1 in 8 NextSong events shares its second with another one, which
    # exercises the reference's start_time fan-out join
    gaps = rng.exponential(8000.0, n_events).astype(np.int64) + 1
    ts = 1_541_000_000_000 + np.cumsum(gaps)
    n_dup = int(n_events * dup_share)
    dup = np.sort(rng.choice(n_events, n_dup, replace=False))
    order = np.argsort(np.concatenate([e, dup]), kind="stable")
    table = pa.table({k: np.concatenate([v, v[dup]])[order] for k, v in
                      (("e", e), ("u", user), ("v", value),
                       ("view", view.astype(np.int8)), ("ts", ts))})
    # expected sink sizes, derived from the formulas
    ns_ts = ts[~view]
    per_sec = np.unique(ns_ts // 1000, return_counts=True)[1]
    expect = {
        "users": int((~view).sum()),
        "time": int(np.unique(ns_ts).size),
        # start_time is second-granular: each NextSong event joins every
        # time row of its second
        "songplays": int((per_sec.astype(np.int64) ** 2).sum()),
    }
    return table, expect


LOG_SQL = """SELECT 'artist_' || (e % 100) AS artist, 'Logged In' AS auth,
  'fn_' || u AS firstName, CASE WHEN u % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
  e % 20 AS itemInSession, 'ln_' || u AS lastName, 200.0::DOUBLE AS length,
  CASE WHEN v > 50.0 THEN 'paid' ELSE 'free' END AS level,
  'Testville' AS location, 'PUT' AS method,
  CASE WHEN view = 1 THEN 'Home' ELSE 'NextSong' END AS page,
  1.54e12::DOUBLE AS registration, e // 20 AS sessionId,
  'song_' || (e % 500) AS song, 200::INTEGER AS status, ts,
  'ua' AS userAgent, u::VARCHAR AS userId FROM t"""


def _write_json(con, table, path, sql="SELECT * FROM t"):
    con.register("t", table)
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT JSON)")
    con.unregister("t")


def gen_sparkify(out, seed, size):
    rng = np.random.default_rng([seed, 1])
    con = duckdb.connect()  # COPY keeps insertion order: stable files
    s = np.arange(500, dtype=np.int64)
    songs = pa.table({
        "artist_id": np.char.add("AR_", (s % 100).astype(str)),
        "artist_latitude": pa.nulls(500, pa.float64()),
        "artist_location": np.full(500, ""),
        "artist_longitude": pa.nulls(500, pa.float64()),
        "artist_name": np.char.add("artist_", (s % 100).astype(str)),
        "duration": np.full(500, 200.0),
        "num_songs": np.ones(500, dtype=np.int64),
        "song_id": np.char.add("SO_", s.astype(str)),
        "title": np.char.add("song_", s.astype(str)),
        "year": 1990 + s % 30,
    })
    root = os.path.join(out, "main")
    os.makedirs(os.path.join(root, "song-data"))
    os.makedirs(os.path.join(root, "log-data"))
    _write_json(con, songs, os.path.join(root, "song-data", "part-00000.json"))
    table, expect = _sparkify_log(rng, size["events"], size["users"],
                                  size["view_share"], size["dup_share"])
    n_rows = table.num_rows
    files = size["log_files"]
    bounds = np.linspace(0, n_rows, files + 1).astype(int)
    for i in range(files):
        _write_json(con, table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                    os.path.join(root, "log-data", f"part-{i:05d}.json"),
                    LOG_SQL)
    expect.update({"songs": 500, "artists": 500})
    in_bytes = sum(os.path.getsize(os.path.join(d, f))
                   for d in (os.path.join(root, "song-data"),
                             os.path.join(root, "log-data"))
                   for f in os.listdir(d))
    return {"sets": {"main": {"input_rows": n_rows + 500,
                              "input_bytes": in_bytes, "expect": expect}}}


# ---------------------------------------------------------------------------
# corpus_dedup: Zipfian documents with planted near-dups + clustered vectors
# ---------------------------------------------------------------------------

def _shingles(text):
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


def _corpus_docs(rng, size):
    n = size["docs"]
    vocab = np.array([f"w{i}" for i in range(size["vocab"])])
    p = 1.0 / np.arange(1, size["vocab"] + 1) ** size["zipf"]
    p /= p.sum()
    n_exact = int(n * size["exact_share"])
    n_near = int(n * size["near_share"])
    n_base = n - n_exact - n_near
    lens = rng.integers(size["min_len"], size["max_len"] + 1, n_base)
    words = rng.choice(size["vocab"], int(lens.sum()), p=p)
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(vocab[words[cuts[i]:cuts[i + 1]]])
             for i in range(n_base)]
    sources = list(range(n_base))  # base index each doc derives from
    # exact copies
    for b in rng.choice(n_base, n_exact):
        texts.append(texts[b])
        sources.append(int(b))
    # near-dup copies: 1 or 2 single-word substitutions of a base doc
    for b in rng.choice(n_base, n_near):
        w = texts[b].split(" ")
        for pos in rng.choice(len(w), rng.integers(1, 3), replace=False):
            w[pos] = vocab[rng.choice(size["vocab"], p=p)]
        texts.append(" ".join(w))
        sources.append(int(b))
    # shuffle doc ids so copies are not adjacent to their bases
    perm = rng.permutation(n)
    ids = np.empty(n, dtype=np.int64)
    ids[perm] = np.arange(n)
    # planted truth: every pair inside a source family whose exact 3-gram
    # Jaccard clears the queries' 0.8 threshold
    fam = {}
    for i, s in enumerate(sources):
        fam.setdefault(s, []).append(i)
    pairs = []
    for members in fam.values():
        if len(members) < 2:
            continue
        sh = {i: _shingles(texts[i]) for i in members}
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                i, j = members[x], members[y]
                if _jaccard(sh[i], sh[j]) >= 0.8:
                    a, b = sorted((int(ids[i]), int(ids[j])))
                    pairs.append([a, b])
    exact_groups = {}
    for i, t in enumerate(texts):
        exact_groups.setdefault(t, []).append(i)
    docs = pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.full(n, "en"),
        "source": np.char.add("src", (ids % 4).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }).sort_by("doc_id")
    return docs, sorted(pairs), len(exact_groups)


def _corpus_vectors(rng, size):
    """Clustered unit-ish vectors; `label` is the generating cluster, as an
    IVF coarse quantizer would assign it. Cluster sizes are Zipfian, so
    the largest cells exceed the query's 64-vector cap and get split."""
    n, dim, k = size["vectors"], size["dim"], size["clusters"]
    w = 1.0 / np.arange(1, k + 1) ** 0.8
    label = rng.choice(k, n, p=w / w.sum()).astype(np.int32)
    centers = rng.standard_normal((k, dim))
    vec = (centers[label] + size["noise"] * rng.standard_normal((n, dim)))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    # exact cosine top-3 over the whole corpus, in the query's double
    # arithmetic; argmax keeps the first maximum, i.e. ties go to the
    # smaller neighbour id like the query's ORDER BY cos DESC, id
    x = vec.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    top = np.empty((n, 3), dtype=np.int64)
    for lo in range(0, n, 1024):
        s = x[lo:lo + 1024] @ x.T
        rows = np.arange(s.shape[0])
        s[rows, rows + lo] = -np.inf
        for k in range(3):
            top[lo:lo + 1024, k] = best = s.argmax(axis=1)
            s[rows, best] = -np.inf
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            np.arange(0, n * dim + 1, dim, dtype=np.int32),
            pa.array(vec.ravel())),
        "label": label,
    })
    return table, top


def gen_corpus(out, seed, size):
    rng = np.random.default_rng([seed, 2])
    truth = {"sets": {}}
    for name, scale in (("warm", size["warm_scale"]), ("main", 1.0)):
        sz = dict(size, docs=int(size["docs"] * scale),
                  vectors=int(size["vectors"] * scale),
                  clusters=max(2, int(size["clusters"] * scale)))
        root = os.path.join(out, name)
        os.makedirs(root)
        docs, pairs, n_groups = _corpus_docs(rng, sz)
        pq.write_table(docs, os.path.join(root, "documents.parquet"))
        vecs, top = _corpus_vectors(rng, sz)
        pq.write_table(vecs, os.path.join(root, "embeddings.parquet"))
        with open(os.path.join(root, "knn_truth.txt"), "w") as f:
            f.write("\n".join(" ".join(map(str, r)) for r in top.tolist()))
        with open(os.path.join(root, "pairs_truth.txt"), "w") as f:
            f.write("\n".join(f"{a} {b}" for a, b in pairs))
        truth["sets"][name] = {
            "docs": sz["docs"], "vectors": sz["vectors"],
            "planted_pairs": len(pairs), "exact_groups": n_groups,
            "input_rows": sz["docs"] + sz["vectors"],
        }
    return truth


# ---------------------------------------------------------------------------
# lake_ingest: append batches keyed by a shuffled id
# ---------------------------------------------------------------------------

# Every column is a pure function of `id`, so the JVM side can rebuild the
# exact row a point read must return (LakeIngest.expectedRow mirrors these).
def lake_columns(ids, batch):
    def prefixed(prefix, n):
        return pc.binary_join_element_wise(
            prefix, pc.cast(pa.array(n), pa.string()), "")
    return {
        "id": ids,
        "batch": np.full(ids.size, batch, dtype=np.int64),
        "user_id": (ids * 2654435761) % 100003,
        "amount": (ids % 100003) / 100.0,
        "category": prefixed("c", ids % 37),
        "payload": prefixed("payload-", (ids * 7919) % 1000003),
    }


def gen_lake(out, seed, size):
    rng = np.random.default_rng([seed, 3])
    n_b, rows = size["batches"], size["batch_rows"]
    ids = rng.permutation(n_b * rows).astype(np.int64)
    samples = []
    total = 0
    for b in range(n_b):
        chunk = ids[b * rows:(b + 1) * rows]
        path = os.path.join(out, f"batch-{b:05d}.parquet")
        pq.write_table(pa.table(lake_columns(chunk, b)), path)
        total += os.path.getsize(path)
        samples.append(rng.choice(chunk, size["samples"], replace=False)
                       .tolist())
    with open(os.path.join(out, "samples.txt"), "w") as f:
        f.write("\n".join(" ".join(map(str, s)) for s in samples))
    return {"batches": n_b, "batch_rows": rows, "input_bytes": total}


GENERATORS = {
    "sparkify_etl": gen_sparkify,
    "corpus_dedup": gen_corpus,
    "lake_ingest": gen_lake,
}


def generate(workload, out, seed, size):
    os.makedirs(out)
    truth = GENERATORS[workload](out, seed, size)
    truth.update({"workload": workload, "seed": seed, "size": size})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth
