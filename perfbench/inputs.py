"""Seeded input generators owned by the benchmark.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs, a different seed gives different inputs. They
return plain Python/pandas/numpy data plus the gold answers the output
checks need; ``load_*`` helpers turn them into DataFrames, which are the
only thing the engine receives.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np
import pandas as pd

from largeea_spark.sources import fixtures

PAGE_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


# ---------------------------------------------------------------------------
# construct: web pages
# ---------------------------------------------------------------------------

@dataclass
class PageInputs:
    pages: pd.DataFrame
    gold: set            # {(subj, pred, obj)} underscore names


def make_pages(n_pages: int, seed: int) -> PageInputs:
    pages, gold, _ = fixtures.page_rows(n_pages, seed)
    return PageInputs(pages=pd.DataFrame(pages), gold=set(gold))


# ---------------------------------------------------------------------------
# align: two KGs with gold links
# ---------------------------------------------------------------------------

class _PandasSink:
    """Stands in for the SparkSession ``two_kg_fixture`` expects, so the
    fixture hands back its pandas frames instead of DataFrames."""

    @staticmethod
    def createDataFrame(pdf):  # noqa: N802 (SparkSession's name)
        return pdf


@dataclass
class KGPairInputs:
    ent1: pd.DataFrame      # uri, id
    ent2: pd.DataFrame
    triples1: pd.DataFrame  # src, rel, dst
    triples2: pd.DataFrame
    links: pd.DataFrame     # e1, e2, split
    truth: set              # every (e1, e2) of the correspondence


def _encode(raw: pd.DataFrame):
    """Dense ids by lexicographic URI order, as ``encode_graph`` assigns."""
    uris = sorted(set(raw.s) | set(raw.o))
    ent = {u: i for i, u in enumerate(uris)}
    rel = {u: i for i, u in enumerate(sorted(set(raw.p)))}
    triples = pd.DataFrame({"src": raw.s.map(ent), "rel": raw.p.map(rel),
                            "dst": raw.o.map(ent)}).astype("int64")
    return ent, triples


def make_kg_pair(n_ents: int, seed: int, train_ratio: float = 0.2) -> KGPairInputs:
    """The engine's seeded two-KG fixture (3 triples and 0.8 gold links per
    entity), int-encoded in plain Python. Links are split like the
    reference: the first ``train_ratio`` of the link file trains."""
    t1, t2, links, variants = fixtures.two_kg_fixture(
        _PandasSink, n_ents=n_ents, n_triples=3 * n_ents,
        n_links=int(0.8 * n_ents), seed=seed)
    ent1, tr1 = _encode(t1)
    ent2, tr2 = _encode(t2)
    cut = int(len(links) * train_ratio)
    lk = pd.DataFrame({
        "e1": links.u1.map(ent1).astype("int64"),
        "e2": links.u2.map(ent2).astype("int64"),
        "split": ["train" if i < cut else "test" for i in links.idx],
    })
    pre1 = "http://dbp.example/resource/"
    pre2 = "http://fr.dbp.example/resource/"
    truth = {(ent1[pre1 + a], ent2[pre2 + b])
             for a, b in zip(variants.name1, variants.name2)}
    return KGPairInputs(
        ent1=pd.DataFrame({"uri": list(ent1), "id": list(ent1.values())}),
        ent2=pd.DataFrame({"uri": list(ent2), "id": list(ent2.values())}),
        triples1=tr1, triples2=tr2, links=lk, truth=truth)


def load_kg_pair(spark, inp: KGPairInputs):
    """(KGPair, DataFrames to cache) from the encoded inputs."""
    from largeea_spark.sources.kg import KG, KGPair

    def df(pdf, schema):
        return spark.createDataFrame(pdf, schema)

    ent = "uri string, id long"
    tri = "src long, rel long, dst long"
    kg1 = KG(ent=df(inp.ent1, ent), rel=None, triples=df(inp.triples1, tri))
    kg2 = KG(ent=df(inp.ent2, ent), rel=None, triples=df(inp.triples2, tri))
    links = df(inp.links, "e1 long, e2 long, split string")
    return (KGPair(kg1=kg1, kg2=kg2, links=links),
            [kg1.ent, kg1.triples, kg2.ent, kg2.triples, links])


# ---------------------------------------------------------------------------
# dedup: documents + embeddings with planted near-duplicates
# ---------------------------------------------------------------------------

_SYLL = ["ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "gu",
         "ba", "fe", "zo", "hi", "ju", "ve"]


def _vocab(n: int) -> list[str]:
    # three-syllable words: 16³ = 4096 distinct, enough that unrelated
    # docs share almost no word 3-grams
    words = []
    for i in range(n):
        a, b, c = i % 16, (i // 16) % 16, (i // 256) % 16
        words.append(_SYLL[a] + _SYLL[b] + _SYLL[c])
    return words


def word_shingles(text: str, n: int = 3) -> set:
    """Python twin of the engine's ``word_ngrams(tokenize_ws(text), n)``."""
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


@dataclass
class DedupInputs:
    docs: pd.DataFrame         # doc_id, text
    embs: pd.DataFrame         # vec_id, embedding (list of float)
    doc_pairs: set             # planted (a, b) with a < b
    emb_pairs: set             # planted (a, b) with a < b


def _sparse_ids(rng: random.Random, n: int) -> list[int]:
    """n distinct ids with gaps, so no code can assume ids are 0..n-1."""
    return sorted(rng.sample(range(4 * n), n))


def make_dedup(n_docs: int, n_vecs: int, seed: int, dim: int = 64,
               dup_share: float = 0.05, doc_words: int = 40) -> DedupInputs:
    """Random documents over a 4096-word vocabulary plus near-duplicate
    copies (one or two substituted words, 3-gram Jaccard ≥ 0.7), and
    random unit vectors plus near-duplicate copies (cosine ≥ 0.98).

    Copies get ids above the largest base id, derived from the data."""
    rng = random.Random(seed)
    vocab = _vocab(4096)

    n_base = n_docs - int(n_docs * dup_share)
    base_ids = _sparse_ids(rng, n_base)
    texts = {i: " ".join(rng.choice(vocab) for _ in range(doc_words))
             for i in base_ids}
    next_id = max(base_ids) + 1
    doc_pairs = set()
    for src in rng.sample(base_ids, n_docs - n_base):
        toks = texts[src].split()
        for _ in range(rng.randint(1, 2)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        texts[next_id] = " ".join(toks)
        doc_pairs.add((src, next_id))
        next_id += 1
    if len(texts) != n_docs:
        raise ValueError("doc ids collided")
    docs = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})

    nrng = np.random.default_rng(seed)
    n_vbase = n_vecs - int(n_vecs * dup_share)
    vbase_ids = _sparse_ids(rng, n_vbase)
    base = nrng.standard_normal((n_vbase, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    picks = nrng.choice(n_vbase, n_vecs - n_vbase, replace=False)
    noise = nrng.standard_normal((len(picks), dim)) * 0.02
    copies = base[picks] + noise
    copies /= np.linalg.norm(copies, axis=1, keepdims=True)
    vnext = max(vbase_ids) + 1
    copy_ids = list(range(vnext, vnext + len(picks)))
    emb_pairs = {(vbase_ids[p], c) for p, c in zip(picks.tolist(), copy_ids)}
    mat = np.vstack([base, copies]).astype(np.float64)
    embs = pd.DataFrame({"vec_id": vbase_ids + copy_ids,
                         "embedding": list(mat)})
    return DedupInputs(docs=docs, embs=embs, doc_pairs=doc_pairs,
                       emb_pairs=emb_pairs)


def load_dedup(spark, inp: DedupInputs):
    docs = spark.createDataFrame(inp.docs, "doc_id long, text string")
    embs = spark.createDataFrame(
        inp.embs.assign(embedding=inp.embs.embedding.map(list)),
        "vec_id long, embedding array<double>",
    )
    return docs, embs
