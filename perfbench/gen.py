"""Seeded inputs for the benchmark, cut from the engine's own testdata.

``data/sf0.01/`` is a verbatim copy of the engine's sf0.01 testdata (the
ten tables the registry queries read). Everything the program under
test reads is derived from it and ``--seed``:

* the 90% entity subset the base tables hold (users of ``events``,
  ``documents``, ``embeddings``); the held-out 10% is split into
  fixed-size ingest batches with fixed-length day windows;
* row order and the part-file split of the large tables;
* seeded topic words appended to every document (below);
* the request stream.

Topic words: the testdata text draws ~56 tokens per document uniformly
from 30 words, so each of them is in ~78% of documents and has BM25 idf
0 under the engine's floor-log2 ladder; only the 5% near-duplicate
marker ``dup`` scores. To give the BM25 leg (and its oracle check)
terms whose idf and tf matter, each document gets 0-12 extra words from
a 2000-word vocabulary drawn with Zipf weights, so common and rare
terms both have positive idf. A near-duplicate (its source's text plus
`` dup``) gets its source's topic words, so the testdata's near-dup
pairs stay near-dup pairs.

Pure numpy + pyarrow (no Spark): generation time is outside every
measured interval, and the same seed gives byte-identical files
(``test_bench.py`` pins that).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)
HELD_OUT = 0.10
BATCH = 16  # held-out documents and vectors per ingest batch
WINDOW_DAYS = 10  # events days each ingest batch lands and refreshes
N_REQUESTS = 200  # request stream length, more than a run consumes
TOPIC_WORDS = 2000
ZIPF_S = 1.0
TOPICS_PER_DOC = 12  # at most; each document draws 0..12
DUP = "dup"

_DAY_US = 86_400 * 1_000_000


@dataclass
class Inputs:
    """Paths and plans produced for one seed."""

    root: str
    sf_dir: str  # the engine-table directory the program reads
    docs_heldout: str  # parquet file: held-out documents
    emb_heldout: str  # parquet file: held-out embeddings
    events_heldout: str  # parquet file: held-out users' events
    ingest_docs: list[list[int]] = field(default_factory=list)
    ingest_vecs: list[list[int]] = field(default_factory=list)
    ingest_days: list[list[int]] = field(default_factory=list)
    query_vecs: list[int] = field(default_factory=list)
    requests: list[dict] = field(default_factory=list)


def event_days(events: pa.Table) -> np.ndarray:
    """Day number (days since the epoch) of every event."""
    us = events.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    return us // _DAY_US


def _write(table: pa.Table, path: str, rng, n_files: int) -> None:
    """Write ``table`` shuffled into ``n_files`` parts of seeded sizes:
    a single file when n_files == 1, else a directory of part files
    (the layout a landing zone leaves)."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    if n_files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path)
    cuts = np.sort(rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False))
    bounds = [0, *cuts.tolist(), table.num_rows]
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def _batches(rng, ids: np.ndarray, size: int) -> list[list[int]]:
    """Seeded membership, fixed size; a remainder that does not fill a
    batch never arrives."""
    ids = rng.permutation(ids)
    return [sorted(int(x) for x in ids[i:i + size])
            for i in range(0, len(ids) - size + 1, size)]


def topic_vocab(exclude: set[str]) -> list[str]:
    """TOPIC_WORDS two-syllable pseudo-words, most frequent first, none
    of them a testdata word."""
    syl = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
    words = [a + b for b in syl for a in syl]
    return [w for w in words if w not in exclude][:TOPIC_WORDS]


def zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return p / p.sum()


def _with_topics(rng, docs: pa.Table, words: list[str]) -> pa.Table:
    texts = docs.column("text").to_pylist()
    known = set(texts)
    p = zipf_p(len(words))

    def root(t: str) -> tuple[str, str]:
        """(source text, the `` dup`` markers appended to it)."""
        marks = ""
        while t.endswith(" " + DUP) and t[: -len(DUP) - 1] in known:
            t, marks = t[: -len(DUP) - 1], marks + " " + DUP
        return t, marks

    extra: dict[str, str] = {}
    out = []
    for t in texts:
        base, marks = root(t)
        if base not in extra:
            k = int(rng.integers(0, TOPICS_PER_DOC + 1))
            extra[base] = "".join(" " + w for w in rng.choice(words, k, p=p))
        out.append(base + extra[base] + marks)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(out))
    n_chars = pa.array([len(t) for t in out], docs.schema.field("n_chars").type)
    return docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars", n_chars)


def _requests(rng, n: int, base_vocab: list[str], words: list[str],
              query_pool: list[int]) -> list[dict]:
    """The stream of hybrid requests: a lexical leg of 1-4
    distinct terms (each a topic word by Zipf weight with p 0.7, a
    testdata word with p 0.2, the marker ``dup`` with p 0.1) and a
    dense leg of 1-16 distinct held-out vectors."""
    p = zipf_p(len(words))
    out = []
    for _ in range(n):
        terms: set[str] = set()
        want = int(rng.integers(1, 5))
        while len(terms) < want:
            u = rng.random()
            if u < 0.7:
                terms.add(str(rng.choice(words, p=p)))
            elif u < 0.9:
                terms.add(str(rng.choice(base_vocab)))
            else:
                terms.add(DUP)
        ids = rng.choice(query_pool, int(rng.integers(1, 17)), replace=False)
        out.append({"terms": sorted(terms), "ids": sorted(int(i) for i in ids)})
    return out


def generate(seed: int, root: str) -> Inputs:
    """Write every input for ``seed`` under ``root`` (created; must not
    exist) and return the plan. Deterministic in ``seed`` alone."""
    rng = np.random.default_rng(seed)
    os.makedirs(root)
    sf_dir = os.path.join(root, "tables")
    os.makedirs(sf_dir)

    tables = {t: pq.read_table(os.path.join(DATA, f"{t}.parquet")) for t in TABLES}
    base_vocab = sorted({w for t in tables["documents"].column("text").to_pylist()
                         for w in t.split(" ")} - {DUP})
    words = topic_vocab(set(base_vocab) | {DUP})
    docs = _with_topics(rng, tables["documents"], words)
    events, emb = tables["events"], tables["embeddings"]

    # the 90% entity subset: users, documents, embeddings
    def held(ids) -> np.ndarray:
        ids = np.unique(ids)
        return np.sort(rng.choice(ids, int(round(len(ids) * HELD_OUT)), replace=False))

    out_users = held(events.column("user_id").to_numpy())
    out_docs = held(docs.column("doc_id").to_numpy())
    out_vecs = held(emb.column("vec_id").to_numpy())
    ev_out = np.isin(events.column("user_id").to_numpy(), out_users)
    doc_out = np.isin(docs.column("doc_id").to_numpy(), out_docs)
    vec_out = np.isin(emb.column("vec_id").to_numpy(), out_vecs)
    tables["events"] = events.filter(pa.array(~ev_out))
    tables["documents"] = docs.filter(pa.array(~doc_out))
    tables["embeddings"] = emb.filter(pa.array(~vec_out))

    # row order and file split: big tables land as 2-4 part files, and
    # events is always a directory (ingesta lands its batches there)
    for name in sorted(tables):
        big = tables[name].num_rows > 5000 or name == "events"
        n_files = int(rng.integers(2, 5)) if big else 1
        _write(tables[name], os.path.join(sf_dir, f"{name}.parquet"), rng, n_files)

    inp = Inputs(
        root=root,
        sf_dir=sf_dir,
        docs_heldout=os.path.join(root, "docs_heldout.parquet"),
        emb_heldout=os.path.join(root, "emb_heldout.parquet"),
        events_heldout=os.path.join(root, "events_heldout.parquet"),
    )
    pq.write_table(docs.filter(pa.array(doc_out)), inp.docs_heldout)
    pq.write_table(emb.filter(pa.array(vec_out)), inp.emb_heldout)
    pq.write_table(events.filter(pa.array(ev_out)), inp.events_heldout)

    # ingest: the held-out docs/vectors in fixed-size batches of seeded
    # membership; the held-out users' events land by day window, fixed
    # WINDOW_DAYS-long windows tiling the calendar in seeded order (the
    # last days, short of a window, never arrive)
    inp.ingest_docs = _batches(rng, out_docs, BATCH)
    inp.ingest_vecs = _batches(rng, out_vecs, BATCH)
    days = event_days(events)
    d0, n_days = int(days.min()), int(days.max() - days.min()) + 1
    windows = [list(range(d0 + lo, d0 + lo + WINDOW_DAYS))
               for lo in range(0, n_days - WINDOW_DAYS + 1, WINDOW_DAYS)]
    inp.ingest_days = [windows[i] for i in rng.permutation(len(windows))]
    n = min(len(inp.ingest_docs), len(inp.ingest_vecs), len(inp.ingest_days))
    if max(len(inp.ingest_docs), len(inp.ingest_vecs), len(inp.ingest_days)) != n:
        raise RuntimeError("ingest batches and day windows do not pair up")

    # requests: dense legs ask with held-out vectors (the engine leaves
    # a query's own id out of its answer once it is indexed)
    inp.query_vecs = sorted(int(i) for i in out_vecs)
    inp.requests = _requests(rng, N_REQUESTS, base_vocab, words, inp.query_vecs)

    with open(os.path.join(root, "plan.json"), "w") as f:
        plan = {k: v for k, v in inp.__dict__.items() if k != "root"}
        plan = {k: (os.path.relpath(v, root) if isinstance(v, str) else v)
                for k, v in plan.items()}
        json.dump(plan, f, sort_keys=True)
    return inp


def corpus_stats(texts: list[str]) -> dict:
    """Vocabulary size, document-frequency shares and lengths of a
    corpus, as the README and the tests report them."""
    n = len(texts)
    toks = [t.split(" ") for t in texts]
    df: dict[str, int] = {}
    for ts in toks:
        for w in set(ts):
            df[w] = df.get(w, 0) + 1
    share = np.array(sorted(df.values())) / n
    lens = np.array([len(ts) for ts in toks])
    return {
        "docs": n,
        "vocab": len(df),
        "df_share_p10_p50_p90": np.percentile(share, [10, 50, 90]).round(4).tolist(),
        "terms_df_over_half": int((share > 0.5).sum()),
        "tokens_p10_p50_p90": np.percentile(lens, [10, 50, 90]).tolist(),
        "near_dup_share": round(sum(t.endswith(" " + DUP) for t in texts) / n, 4),
    }

