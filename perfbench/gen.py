"""Seeded input generators. Everything here is numpy + pyarrow, runs
before any timing, and writes only under the directory it is given.

The same seed gives byte-identical files. Shapes follow the sf0.1
documents and embeddings tables (FIXTURES.md §B) and the
reference-shaped pipeline fixtures (FIXTURES.md §A).

The benchmark reads nothing outside its own checkout, so it does not
sample the sf0.1 files: it draws tables with their distribution. The
sf0.1 documents are 10-100 words drawn uniformly from the 30 words of
``DOC_VOCAB``, 5% near-duplicates, in five languages from 20 sources;
the embeddings are 2000 unit vectors of dim 64 with a label 0-9.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: The whole sf0.1 documents vocabulary: 30 engine words the
#: registry's text rows are tuned against.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

#: Filing prose: the fixtures' finance words plus the document words.
FILING_VOCAB = (
    "revenue growth risk market segment liquidity earnings guidance product "
    "pipeline restructuring capital dividend outlook competition regulation "
    "litigation technology"
).split() + DOC_VOCAB

#: Words a filing over-uses in the year before its company announces a
#: deal, so the classifier has signal to find (AUC well above 0.5).
DEAL_SIGNAL = ("merger", "acquisition", "synergy", "tender", "consolidation")

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

SF01_EMBEDDINGS = 2_000
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> tuple[int, int]:
    pq.write_table(table, path)
    return table.num_rows, os.path.getsize(path)


def _choice(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _texts(rng, vocab, lengths) -> list[str]:
    words = np.asarray(vocab, dtype=object)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]


def unit_vectors(rng, n: int, dim: int = EMBED_DIM) -> np.ndarray:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def documents_table(rng, n: int) -> pa.Table:
    """sf0.1-shaped documents: 10-100 vocabulary words each; every
    20th document is an earlier one plus the word "dup", the near-
    duplicate pattern the dedup rows look for."""
    texts = _texts(rng, DOC_VOCAB, rng.integers(10, 101, n))
    for i in range(19, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _vector_table(ids: np.ndarray, vecs: np.ndarray, **extra) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    emb = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(pa.list_(pa.float32()))
    return pa.table({"vec_id": ids.astype(np.int64), "embedding": emb, **extra})


def sf01_embeddings(out: str, seed: int) -> list[int]:
    """The sf0.1 ``embeddings`` table (2000 unit vectors of dim 64, label
    0-9) as ``{out}/embeddings.parquet``; returns [rows, bytes]."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = SF01_EMBEDDINGS
    table = _vector_table(np.arange(n), unit_vectors(rng, n),
                          label=pa.array(rng.integers(0, 10, n), pa.int32()))
    return list(_write(table, f"{out}/embeddings.parquet"))


def ma_corpus(out: str, seed: int, n_companies: int, filings_per_company: int) -> dict:
    """The reference-shaped pipeline inputs (FIXTURES.md §A): a company
    master CSV, a deals CSV with ``MM/dd/yy`` announce dates, and a
    filings parquet ``(cik, report_date, text)``.

    Every third company acquires the next one. A filing whose company
    announces a deal within the following year over-samples
    ``DEAL_SIGNAL`` words, so both labels occur and are learnable.
    Returns the input sizes plus the link and positive-label counts
    the pipeline must reproduce."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    base = dt.date(2012, 1, 1)
    sics = [2834, 2836, 3711, 3714, 6021, 6022, 7372, 7375]
    names = [f"Company {i:04d} Inc" for i in range(n_companies)]
    ciks = [str(100000 + i) for i in range(n_companies)]
    sic = _choice(rng, sics, n_companies)
    master = ["cik,ticker,name,sic,exchange,business,incorporated,irs"]
    for i in range(n_companies):
        master.append(f"{ciks[i]},TK{i:04d},{names[i]},{sic[i]},NYSE,synthetic,DE,{100000000 + i}")
    # a case variant that exact-name linkage must NOT match
    master.append(f"999999,ZZZ,{names[0].lower()},3711,NYSE,synthetic,DE,123456789")

    deals = ["acquirer_name,target_name,announce_date,deal_type,seller_name,"
             "announced_total_value_mil,payment_type,deal_status"]
    announce: dict[str, dict[int, list[dt.date]]] = {"acquirer": {}, "target": {}}
    for i in range(0, n_companies - 1, 3):
        day = base + dt.timedelta(days=int(rng.integers(400, 2400)))
        announce["acquirer"].setdefault(i, []).append(day)
        announce["target"].setdefault(i + 1, []).append(day)
        deals.append(f"{names[i]},{names[i + 1]},{day:%m/%d/%y},merger,,"
                     f"{rng.uniform(10, 5000):.2f},cash,completed")
    # an acquirer name with no master row: links on the target side only
    deals.append(f"No Such Company LLC,{names[1]},{base:%m/%d/%y},merger,,1.00,cash,completed")
    announce["target"].setdefault(1, []).append(base)

    def positive(side, c, report):
        return any(0 <= (a - report).days < 365 for a in announce[side].get(c, []))
    positives = {"acquirer": 0, "target": 0}

    rows_cik, rows_date, rows_text = [], [], []
    signal = np.asarray(DEAL_SIGNAL, dtype=object)
    for c in range(n_companies):
        for _ in range(filings_per_company):
            report = base + dt.timedelta(days=int(rng.integers(0, 2400)))
            text = _texts(rng, FILING_VOCAB + STOPWORDS, [int(rng.integers(60, 140))])[0]
            hits = [side for side in positives if positive(side, c, report)]
            for side in hits:
                positives[side] += 1
            if hits:
                text += " " + " ".join(signal[rng.integers(0, len(signal), 12)])
            rows_cik.append(ciks[c])
            rows_date.append(report)
            rows_text.append(text)
    with open(f"{out}/cik_master.csv", "w") as f:
        f.write("\n".join(master) + "\n")
    with open(f"{out}/deals.csv", "w") as f:
        f.write("\n".join(deals) + "\n")
    filings = pa.table({
        "cik": rows_cik,
        "report_date": pa.array(rows_date, pa.date32()),
        "text": rows_text,
    })
    sizes = {"filings": list(_write(filings, f"{out}/filings.parquet"))}
    for name, lines in (("cik_master", master), ("deals", deals)):
        sizes[name] = [len(lines) - 1, os.path.getsize(f"{out}/{name}.csv")]
    sizes["expected"] = {
        "links_acquirer": sum(len(v) for v in announce["acquirer"].values()),
        "links_target": sum(len(set(v)) for v in announce["target"].values()),
        "positives_acquirer": positives["acquirer"],
        "positives_target": positives["target"],
    }
    return sizes


def index_stack(out: str, seed: int, shard_vectors: int, shard_docs: int,
                base_shards: int, rounds: int, query_batches: int,
                batch_size: int) -> dict:
    """The index-lifecycle inputs: a base corpus of ``base_shards``
    jittered copies of one seeded embeddings/documents block (the
    ``scripts/scale_1m_index.stacked_corpus`` / ``scale_bm25.
    stacked_docs`` shape, ids disjoint per copy), ``rounds`` append
    shards of one copy each, and ``query_batches`` fixed query batches
    (vectors and 3-term BM25 queries). Returns input sizes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    block = unit_vectors(rng, shard_vectors)
    docs = documents_table(rng, shard_docs)
    sizes = {}

    def vec_copy(c):
        v = block + 0.05 * rng.standard_normal(block.shape).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return _vector_table(np.arange(shard_vectors) + c * shard_vectors, v)

    def doc_copy(c):
        return docs.set_column(0, "doc_id", pa.array(
            np.arange(shard_docs, dtype=np.int64) + c * shard_docs))

    vec_base = pa.concat_tables([vec_copy(c) for c in range(base_shards)])
    doc_base = pa.concat_tables([doc_copy(c) for c in range(base_shards)])
    sizes["base_vectors"] = list(_write(vec_base, f"{out}/base_vectors.parquet"))
    sizes["base_docs"] = list(_write(doc_base, f"{out}/base_docs.parquet"))
    shard_rows = shard_bytes = 0
    for r in range(rounds):
        c = base_shards + r
        rv, bv = _write(vec_copy(c), f"{out}/shard_{r}_vectors.parquet")
        rd, bd = _write(doc_copy(c), f"{out}/shard_{r}_docs.parquet")
        shard_rows += rv + rd
        shard_bytes += bv + bd
    sizes["append_shards"] = [shard_rows, shard_bytes]
    q_rows = q_bytes = 0
    for b in range(query_batches):
        qv = unit_vectors(rng, batch_size)
        qr, qb = _write(_vector_table(np.arange(batch_size), qv), f"{out}/queries_{b}_vectors.parquet")
        terms = _choice(rng, DOC_VOCAB, batch_size * 3)
        qt = pa.table({"query_id": np.repeat(np.arange(batch_size, dtype=np.int64), 3),
                       "term": terms})
        tr, tb = _write(qt, f"{out}/queries_{b}_terms.parquet")
        q_rows += qr + tr
        q_bytes += qb + tb
    sizes["query_batches"] = [q_rows, q_bytes]
    return sizes
