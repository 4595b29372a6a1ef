"""KG-pair data model + TSV ingest (SURVEY.md §1.1, S1-S2).

Reference: ``EAData`` (`dataset.py:17-135`) holds two KGs (ent/rel dicts
+ int triples) and gold links with a first-20%-train split
(`dataset.py:32,52-64`). Here each piece is a DataFrame:

  ent{1,2}:    (uri string, id long)           — deterministic ids (A1)
  rel{1,2}:    (uri string, id long)
  triples{1,2}:(src long, rel long, dst long)
  links:       (e1 long, e2 long, split string in {'train','test'})

File layouts bound by the reference subclasses (OpenEAData
`dataset.py:138-147`, LargeScaleEAData `dataset.py:150-155`):
``rel_triples_{1,2}`` / ``{lang}_triples_{1,2}`` TSV s\\tp\\to and
``ent_links`` TSV e1\\te2.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ids import assign_dense_ids, dict_encode, row_index

TRIPLE_SCHEMA = "s string, p string, o string"
LINK_SCHEMA = "u1 string, u2 string"


@dataclass
class KG:
    ent: DataFrame      # (uri, id)
    rel: DataFrame      # (uri, id)
    triples: DataFrame  # (src, rel, dst) int-encoded


@dataclass
class KGPair:
    kg1: KG
    kg2: KG
    links: DataFrame    # (e1, e2, split)


def read_triples_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S1 scan half: raw TSV triples (`dataset.py:91-99`, utf-8)."""
    return spark.read.csv(path, sep="\t", schema=TRIPLE_SCHEMA, quote="")


def encode_graph(raw: DataFrame, _hash_fn=None) -> KG:
    """S1 encode half (`process_one_graph`, `dataset.py:91-100`): build
    ent/rel dims with deterministic dense ids (A1) and int-encode the
    triples. Rel dim is broadcast (vocabularies are small). Entity
    joins are HASH-KEYED sort-merge: both URI columns are collapsed to
    ``xxhash64`` longs map-side, so the triple table shuffles 16 bytes
    per row where a string-keyed SMJ would shuffle-and-sort two 40-80
    byte URIs — at 1e9 triples the dominant exchange of the construct
    phase. Safe because every s/o URI is in the ent dim by construction
    (the dim is built from these very triples); if the ent dim has any
    xxhash64 collision among its keys (one tiny agg to check; expected
    ~n²/2⁶⁵, i.e. none below ~1e9 keys) we fall back to the exact
    string-keyed joins for the whole table — correctness never rides on
    hash uniqueness."""
    raw = raw.where(F.col("s").isNotNull() & F.col("o").isNotNull())
    ent = assign_dense_ids(
        raw.select(F.col("s").alias("uri"))
        .unionByName(raw.select(F.col("o").alias("uri")))
        .distinct(),
        "uri",
    )
    rel = dict_encode(raw.select(F.col("p").alias("uri")), "uri")
    er = F.broadcast(rel.select(F.col("uri").alias("p"), F.col("id").alias("rel")))
    hash_fn = _hash_fn or F.xxhash64
    ent_h = ent.select(hash_fn("uri").alias("__h"), "id")
    has_collision = not ent_h.groupBy("__h").agg(
        F.count("*").alias("c")
    ).where(F.col("c") > 1).isEmpty()
    if has_collision:
        es = ent.select(F.col("uri").alias("s"), F.col("id").alias("src"))
        eo = ent.select(F.col("uri").alias("o"), F.col("id").alias("dst"))
        triples = (
            raw.join(es, "s").join(eo, "o").join(er, "p").select("src", "rel", "dst")
        )
    else:
        fact = raw.join(er, "p").select(
            hash_fn("s").alias("__hs"), hash_fn("o").alias("__ho"), "rel"
        )
        triples = (
            fact.join(ent_h.select(F.col("__h").alias("__hs"),
                                   F.col("id").alias("src")), "__hs")
            .join(ent_h.select(F.col("__h").alias("__ho"),
                               F.col("id").alias("dst")), "__ho")
            .select("src", "rel", "dst")
        )
    return KG(ent=ent, rel=rel, triples=triples)


def read_links_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S2 scan: gold links TSV in file order (`dataset.py:103-111`).

    File order matters for the reference's first-20% train split
    (`dataset.py:32`), so we attach a file-order index ``idx``: the
    row's position in scan order (for one file, its 0-based line
    number, however many splits the scan cuts it into), numbered in
    the JVM by ``row_index``, so no link row goes through a Python
    worker (single-file TSV compatibility path; engine-native fixtures
    carry an explicit ``idx`` column instead)."""
    raw = spark.read.csv(path, sep="\t", schema=LINK_SCHEMA, quote="")
    return row_index(raw, "idx")


def encode_links(raw_links: DataFrame, ent1: DataFrame, ent2: DataFrame,
                 train_ratio: float = 0.2) -> DataFrame:
    """S2 encode + split (`process_link` `dataset.py:103-111`,
    `ill` split `dataset.py:52-64`): join URIs to both ent dims; first
    ``train_ratio`` fraction (by ``idx``) is train, rest test.

    The train cut is computed over the FULL link-file row count (the
    reference cuts on all links, `dataset.py:32`), so a link whose URI
    is missing from a dim cannot shift the split boundary. Links with
    unmatched URIs are dropped here (use ``encode_links_extending`` /
    ``load_kg_pair`` for the reference's append-fresh-ids semantics)."""
    e1 = ent1.select(F.col("uri").alias("u1"), F.col("id").alias("e1"))
    e2 = ent2.select(F.col("uri").alias("u2"), F.col("id").alias("e2"))
    n = raw_links.count()
    cut = int(n * train_ratio)
    enc = raw_links.join(e1, "u1").join(e2, "u2").select("e1", "e2", "idx")
    return enc.withColumn(
        "split", F.when(F.col("idx") < cut, F.lit("train")).otherwise(F.lit("test"))
    ).drop("idx")


def encode_links_extending(
    raw_links: DataFrame, kg1: KG, kg2: KG, train_ratio: float = 0.2,
) -> tuple[DataFrame, KG, KG]:
    """Reference `process_link` semantics (`dataset.py:103-111`): a link
    URI absent from a triple-derived ent dim gets a FRESH dense id
    appended to that dim rather than dropping the gold link — dropped
    links would shrink eval denominators and shift the first-20% cut.
    Returns (links, kg1, kg2) with possibly-extended ent dims."""

    def extend(ent: DataFrame, uris: DataFrame) -> DataFrame:
        missing = uris.join(ent.select("uri"), "uri", "left_anti").distinct()
        if missing.isEmpty():
            return ent
        base = ent.agg(F.max("id")).first()[0]
        base = (base if base is not None else -1) + 1
        fresh = assign_dense_ids(missing, "uri").select(
            "uri", (F.col("id") + F.lit(base)).alias("id")
        )
        return ent.unionByName(fresh)

    ent1 = extend(kg1.ent, raw_links.select(F.col("u1").alias("uri")))
    ent2 = extend(kg2.ent, raw_links.select(F.col("u2").alias("uri")))
    links = encode_links(raw_links, ent1, ent2, train_ratio)
    return (
        links,
        KG(ent=ent1, rel=kg1.rel, triples=kg1.triples),
        KG(ent=ent2, rel=kg2.rel, triples=kg2.triples),
    )


def load_kg_pair(spark: SparkSession, triples1: str, triples2: str,
                 links: str, train_ratio: float = 0.2) -> KGPair:
    """Full OpenEA/LargeScaleEA-layout ingest (`dataset.py:138-155`)."""
    kg1 = encode_graph(read_triples_tsv(spark, triples1))
    kg2 = encode_graph(read_triples_tsv(spark, triples2))
    lk, kg1, kg2 = encode_links_extending(
        read_links_tsv(spark, links), kg1, kg2, train_ratio
    )
    return KGPair(kg1=kg1, kg2=kg2, links=lk)
