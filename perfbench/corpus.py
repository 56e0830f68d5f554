"""Seeded inputs for the benchmark's data-bound workloads.

* ``tpch_dir``: the dbgen-faithful TPC-H corpus (``sources.dbgen``) at one
  scale factor, generated once per checkout.  dbgen output is a pure
  function of the scale factor, so it carries no seed.
* ``pipeline_corpus`` / ``seeded_pipeline``: documents, embeddings and
  events for the LLM-pipeline entries, drawn from
  ``numpy.random.default_rng(seed)``.  Per seed, the document texts come
  from a fixed base pool and only their ids are permuted (see
  ``perfbench/README.md``).
  Documents keep the known-duplicate structure of the repository's
  pipeline scale probe: the first third are originals, the second third
  exact copies, the last third near-duplicates with about one word in
  eight re-drawn.  Embedding classes come in three exact replicas, half
  tight around their cell centre and half scattered, so the SemDeDup
  verdict depends on the data.  Events come in bursts (visits) per user,
  so sessionization finds multi-event sessions between inactivity gaps.

Each table is written as one parquet file, which both Spark and DuckDB
read directly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 4096
STOPWORDS = (
    "the a an and or of to in is it that for on was as with be at by".split()
)
EVENT_TYPES = ["view", "click", "purchase", "add_to_cart", "search"]


def _words() -> np.ndarray:
    return np.array(
        STOPWORDS + [f"w{i:04d}" for i in range(len(STOPWORDS), VOCAB)]
    )


def write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    words = _words()
    n_base = n_docs // 3
    lengths = rng.integers(40, 64, n_base)
    base = [rng.integers(0, VOCAB, n) for n in lengths]
    texts = []
    for doc_id in range(n_docs):
        b, r = doc_id % n_base, doc_id // n_base
        idx = base[b]
        if r == 2:
            idx = idx.copy()
            redraw = rng.random(len(idx)) < 1 / 8
            idx[redraw] = rng.integers(0, VOCAB, int(redraw.sum()))
        texts.append(" ".join(words[idx]))
    doc_ids = np.arange(n_docs, dtype=np.int64)
    bases = doc_ids % n_base
    lang_de = rng.random(n_base) < 0.1
    return pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": np.where(lang_de[bases], "de", "en"),
            "source": [f"src_{b % 20}" for b in bases],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    n_class = n_vecs // 3
    n_cells = max(4, n_class // 200)
    centers = rng.uniform(-1, 1, (n_cells, dim))
    cls_cell = np.arange(n_class) % n_cells
    scatter = np.where(rng.random(n_class) < 0.5, 0.01, 2.0)
    cls_vec = centers[cls_cell] + rng.uniform(-1, 1, (n_class, dim)) * scatter[:, None]
    vec_id = np.arange(n_vecs, dtype=np.int64)
    cls = vec_id % n_class
    vecs = cls_vec[cls].astype(np.float32)
    return pa.table(
        {
            "vec_id": vec_id,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), dim
            ).cast(pa.list_(pa.float32())),
            "label": cls_cell[cls].astype(np.int32),
        }
    )


def events(rng: np.random.Generator, n_events: int) -> pa.Table:
    n_users = max(n_events // 50, 1)
    user = rng.integers(0, n_users, n_events)
    # each user has 8 visits at random times over 30 days; an event falls
    # in one of them, up to 20 minutes after the visit starts
    start = np.datetime64("2024-01-01T00:00:00", "us")
    visits = rng.integers(0, 30 * 24 * 60, (n_users, 8))
    minutes = visits[user, rng.integers(0, 8, n_events)] + rng.integers(0, 20, n_events)
    seconds = rng.integers(0, 60, n_events)
    ts = start + (minutes * 60 + seconds).astype("timedelta64[s]")
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.gamma(2.0, 20.0, n_events), 2)
    props = [f'{{"page": {p}}}' for p in rng.integers(0, 100, n_events)]
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": user.astype(np.int64),
            "event_type": etype,
            "value": value,
            "props": props,
        }
    )


def pipeline_corpus(out: str, seed: int, n_docs: int, n_vecs: int, n_events: int) -> str:
    """Write documents/embeddings/events for ``seed`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(documents(rng, n_docs), os.path.join(out, "documents.parquet"))
    write(embeddings(rng, n_vecs), os.path.join(out, "embeddings.parquet"))
    write(events(rng, n_events), os.path.join(out, "events.parquet"))
    return out


def doc_permutation(seed: int, n_docs: int) -> np.ndarray:
    return np.random.default_rng([seed, 1]).permutation(n_docs)


def seeded_pipeline(out: str, base_documents: str, seed: int, n_vecs: int, n_events: int) -> None:
    """Per-seed pipeline inputs: seeded embeddings and events, and the
    base documents with their ids relabelled by ``doc_permutation``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(embeddings(rng, n_vecs), os.path.join(out, "embeddings.parquet"))
    write(events(rng, n_events), os.path.join(out, "events.parquet"))
    base = pq.read_table(base_documents)
    perm = doc_permutation(seed, base.num_rows)
    docs = base.set_column(0, "doc_id", pa.array(perm[base["doc_id"].to_numpy()]))
    write(docs.sort_by("doc_id"), os.path.join(out, "documents.parquet"))


def tpch_dir(spark, root: str, sf: float) -> str:
    """Generate the dbgen corpus at ``sf`` under ``root``; returns its dir."""
    from risinglight_spark.sources.dbgen import TPCH_TABLES, generate

    out = os.path.join(root, f"tpch_sf{sf:g}")
    generate(spark, out, sf)
    for t in TPCH_TABLES:
        if not os.path.exists(os.path.join(out, f"{t}.parquet", "_SUCCESS")):
            raise RuntimeError(f"dbgen left {t} incomplete in {out}")
    return out
