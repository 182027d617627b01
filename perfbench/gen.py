"""Seeded input generation for the benchmark (numpy + pyarrow, no Spark).

Every table is a pure function of the seed and the size arguments, so
the same seed gives byte-identical inputs. The engine only ever sees the
parquet/JSON files written here, laid out the way ``sources.tables``
expects (``<dir>/<name>.parquet``).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the 84 pairs the engine's currency dimension knows, in ISIN order
#: (XFC000000001 .. XFC000000084); duplicated here so the generator
#: does not import the engine.
KNOWN_PAIRS = (
    "btceur btcusd ltcusd ltcbtc ethusd ethbtc etcbtc etcusd rrtusd rrtbtc "
    "zecusd zecbtc xmrusd xmrbtc dshusd dshbtc xrpusd xrpbtc iotusd iotbtc "
    "ioteth eosusd eosbtc eoseth sanusd sanbtc saneth omgusd omgbtc omgeth "
    "bchusd bchbtc bcheth neousd neobtc neoeth etpusd etpbtc etpeth qtmusd "
    "qtmbtc qtmeth avtusd avtbtc avteth edousd edobtc edoeth btgusd btgbtc "
    "datusd datbtc dateth qshusd qshbtc qsheth yywusd yywbtc yyweth gntusd "
    "gntbtc gnteth sntusd sntbtc snteth ioteur batusd batbtc bateth mnausd "
    "mnabtc mnaeth funusd funbtc funeth zrxusd zrxbtc zrxeth tnbusd tnbbtc "
    "tnbeth spkusd spkbtc spketh"
).split()
UNKNOWN_PAIRS = ("foobar", "bazqux", "abcxyz", "nopusd")

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "filter group stream big vector index shard cache plan node task stage "
    "write read lock queue"
).split()
#: doc languages in a fixed cycle: 44% en, 14% each of the others
LANG_CYCLE = ("en",) * 22 + ("zh",) * 7 + ("de",) * 7 + ("fr",) * 7 + ("es",) * 7
N_SOURCES = 20
#: skew of tick pair popularity
ZIPF_S = 1.1
EMB_DIM = 64


def zipf_choice(rng: np.random.Generator, n_items: int, s: float,
                size: int) -> np.ndarray:
    """Draw ``size`` item indexes from a finite Zipf(s) over
    ``n_items``; item popularity rank is shuffled so the hot items are
    not simply the smallest ids."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_items, size=size, p=w / w.sum())
    return rng.permutation(n_items)[ranks]


def _random_text(rng: np.random.Generator, doc_id: int) -> list[str]:
    # lengths 12..90 words by doc id: the same total for every seed
    return list(rng.choice(VOCAB, size=12 + doc_id * 37 % 79))


def _perturb(rng: np.random.Generator, words: list[str],
             n_edits: int) -> list[str]:
    out = list(words)
    for i in rng.choice(len(out), size=min(n_edits, len(out)), replace=False):
        out[i] = str(rng.choice(VOCAB))
    return out


def _planted(rng: np.random.Generator, n: int, rate: float) -> set[int]:
    """Exactly ``rate * n`` positions (never among the first ten), so
    every seed plants the same amount of shared work."""
    return set(rng.choice(np.arange(10, n), size=int(rate * n),
                          replace=False).tolist())


def _block(doc_id: int) -> tuple[str, str]:
    """(lang, source) by doc id: every seed gets the same block sizes,
    so the blocked self-joins do the same amount of pairing."""
    return LANG_CYCLE[doc_id % len(LANG_CYCLE)], f"src{doc_id % N_SOURCES}"


def corpus_docs(seed: int, n_docs: int, dup_rate: float) -> list[dict]:
    """Document rows with planted duplicates: a ``dup_rate`` share of
    docs copies an earlier doc, half of those verbatim and half with a
    few word substitutions; most copies come from the same lang/source
    block, some from another block."""
    rng = np.random.default_rng([seed, 2])
    copies = _planted(rng, n_docs, dup_rate)
    docs: list[dict] = []
    by_block: dict[tuple[str, str], list[int]] = {}
    for doc_id in range(n_docs):
        lang, source = _block(doc_id)
        same = by_block.setdefault((lang, source), [])
        if doc_id in copies:
            pool = same if same and rng.random() < 0.8 else range(doc_id)
            words = docs[int(rng.choice(pool))]["text"].split()
            if rng.random() >= 0.5:
                words = _perturb(rng, words, max(1, len(words) // 12))
        else:
            words = _random_text(rng, doc_id)
        same.append(doc_id)
        text = " ".join(words)
        docs.append({"doc_id": doc_id, "text": text, "lang": lang,
                     "source": source, "n_chars": len(text)})
    return docs


def _docs_table(docs: list[dict]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array([d["doc_id"] for d in docs], type=pa.int64()),
        "text": pa.array([d["text"] for d in docs]),
        "lang": pa.array([d["lang"] for d in docs]),
        "source": pa.array([d["source"] for d in docs]),
        "n_chars": pa.array([d["n_chars"] for d in docs], type=pa.int64()),
    })


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int,
                 dup_rate: float) -> list[dict]:
    """``documents`` and ``embeddings`` with planted near-duplicates at
    ``dup_rate``. Embeddings cluster around one centre per label; a
    planted duplicate is an earlier vector plus tiny noise."""
    os.makedirs(out_dir, exist_ok=True)
    docs = corpus_docs(seed, n_docs, dup_rate)
    pq.write_table(_docs_table(docs), os.path.join(out_dir, "documents.parquet"))

    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(0.0, 1.0, (10, EMB_DIM))
    labels = np.arange(n_vecs) % 10
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n_vecs, EMB_DIM))
    for i in sorted(_planted(rng, n_vecs, dup_rate)):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMB_DIM)
        labels[i] = labels[j]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return docs


def write_corpus_delta(out_dir: str, seed: int, docs: list[dict],
                       share: float) -> dict[str, int]:
    """Next corpus snapshot: about ``share`` of the docs each removed,
    changed (text edited) and added. Returns the expected refresh
    counts (scored = added + changed)."""
    rng = np.random.default_rng([seed, 4])
    n = len(docs)
    picks = rng.permutation(n)
    k = max(1, int(n * share))
    removed, changed = set(picks[:k].tolist()), set(picks[k:2 * k].tolist())
    new_docs = []
    for d in docs:
        if d["doc_id"] in removed:
            continue
        if d["doc_id"] in changed:
            words = _perturb(rng, d["text"].split(), 3) + ["changed"]
            text = " ".join(words)
            d = {**d, "text": text, "n_chars": len(text)}
        new_docs.append(d)
    for doc_id in range(n, n + k):
        text = " ".join(_random_text(rng, doc_id))
        lang, source = _block(doc_id)
        new_docs.append({"doc_id": doc_id, "text": text, "lang": lang,
                         "source": source, "n_chars": len(text)})
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_docs_table(new_docs),
                   os.path.join(out_dir, "documents.parquet"))
    return {"n_scored": 2 * k, "n_removed": k, "n_carried": n - 2 * k}


# --- ingest feed files (written by the feeder process) --------------------

# Offered load: 24000 ticks/s in 2 files/s and 1200 jobs/s in 1 file/s.
# The ingest drain loop polls every ``ingest.POLL_S`` (10 s), so a rate
# is sustainable while one cycle over 10 s of feed takes under 10 s. On 4
# cores a measured cycle took 6.5-9.4 s at this rate; at 1.5 times it
# cycles took 7.3-9.1 s, at 3 times they took 11.0-11.7 s and every poll
# started later than the last: the sustainable rate is about 2.5 times
# this one. Few, large files: the tick stream reads one task per file,
# and with 10 small files a second the drain time grew with the backlog.
TICK_EVERY_S = 0.5
TICKS_PER_FILE = 12000
JOB_EVERY_S = 1.0
JOBS_PER_FILE = 1200
#: share of ticks on pairs the currency dimension does not know
UNKNOWN_SHARE = 0.05


def tick_table(rng: np.random.Generator, first_id: int, n: int,
               stamp: float) -> pa.Table:
    """One tick file in the wire shape of ``synthetic.wss_ticks_raw``
    (pair, tick array<array<double>>, ts). Pairs are Zipf over the
    known pairs plus an ``UNKNOWN_SHARE`` of unknown pairs. The tick id
    rides in the daily-change slot (index 4) and ``ts`` is the
    scheduled stamp, so a published message can be traced back to
    its file."""
    known = np.array(KNOWN_PAIRS)[zipf_choice(rng, len(KNOWN_PAIRS), ZIPF_S, n)]
    unknown = np.array(UNKNOWN_PAIRS)[rng.integers(0, len(UNKNOWN_PAIRS), n)]
    pairs = np.where(rng.random(n) < UNKNOWN_SHARE, unknown, known)
    value = np.round(rng.uniform(1.0, 500.0, n), 4)
    ids = np.arange(first_id, first_id + n)
    bid, ask = value * 0.999, value * 1.001
    zero = np.zeros(n)
    fields = np.stack([bid, zero, ask, zero, ids.astype(np.float64),
                       np.full(n, 0.0001), value, value, value * 1.002,
                       value * 0.998], axis=1)
    inner = pa.ListArray.from_arrays(np.arange(0, 10 * n + 1, 10, dtype=np.int32),
                                     pa.array(fields.ravel()))
    return pa.table({
        "pair": pa.array(pairs.tolist()),
        "tick": pa.ListArray.from_arrays(np.arange(n + 1, dtype=np.int32), inner),
        "ts": pa.array(np.full(n, stamp)),
    })


def read_ticks(path: str) -> dict[str, np.ndarray]:
    """The ticks of one tick file: id, pair, bid, ask and stamp."""
    t = pq.read_table(path)
    fields = (t.column("tick").combine_chunks().flatten().flatten()
              .to_numpy().reshape(-1, 10))
    return {"id": fields[:, 4].astype(np.int64),
            "pair": t.column("pair").to_numpy(),
            "bid": fields[:, 0], "ask": fields[:, 2],
            "ts": t.column("ts").to_numpy()}


def job_rows(rng: np.random.Generator, first_id: int,
             n: int) -> list[tuple[dict, int | None]]:
    """``schemas.JOB`` rows as the job API serves them (action as a
    string), each with the final action the engine must leave in the
    jobs table: 1300 for an actionable REST job on a known ISIN, 1100
    (claimed, never fetched) for an unknown or malformed one, and None
    (never written) for jobs the REST path must skip."""
    out = []
    for jid in range(first_id, first_id + n):
        r = rng.random()
        isin_n = int(rng.integers(1, 85))
        exchange = "btsp" if rng.random() < 0.5 else "btfx"
        value = f"{exchange}#XFC{isin_n:09d}"
        action, type_idtype, expect = 1000, 2, 1300
        if r < 0.08:                    # unknown ISIN
            value, expect = f"{exchange}#XFC{int(rng.integers(85, 98)):09d}", 1100
        elif r < 0.10:                  # malformed value
            value, expect = f"{exchange}XFC{isin_n:09d}", 1100
        elif r < 0.20:                  # already past the request state
            action, expect = int(rng.choice([1100, 1300, 1900])), None
        elif r < 0.28:                  # not a crypto job
            type_idtype, expect = 1, None
        out.append(({"downloader_jq_id": jid, "action": str(action),
                     "value": value, "type_idtype": str(type_idtype)}, expect))
    return out


def write_jobs(path: str, rows: list[tuple[dict, int | None]]) -> None:
    """A job file: one JSON object per line, as the job API serves it."""
    with open(path, "w", encoding="utf-8") as fh:
        for job, _ in rows:
            fh.write(json.dumps(job) + "\n")
