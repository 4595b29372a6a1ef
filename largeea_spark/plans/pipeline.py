"""End-to-end KG-construction + alignment pipeline with checkpointed
phases (SURVEY.md §3; north rule: triple extraction → entity linking →
canonicalization → graph materialize, resumable, with lineage).

Phase graph (each phase = one StageStore checkpoint, resumable):

  pages ──extract──▶ triples_surface          (S8 + mention detection)
        └──────────▶ entity dim (dict-encode) (A1)
  triples_surface ──encode──▶ triples         (S1 joins)
  ent dims ──name channel──▶ sim_string, sim_embed   (phases 3, 1-2)
  sim_* ──semi seeds──▶ seeds                 (phase 0 prologue)
  triples+gold seeds ──structure──▶ sim_structure  (phase 0)
  sims ──fuse──▶ sim_fused ──mutual argmax──▶ links
  links ──connected components──▶ canonical ids
  triples×canonical ──▶ kg_canonical (materialized, partitioned)

Single-KG (web corpus) and two-KG (alignment benchmark) entry points.

Concurrency: independent stages are checkpointed together from a pool
of driver threads (``_checkpoint_graph``). In construction, triples
and canonical read only the entity dim (and the surface triples), so
they build side by side once entities is written; kg_canonical waits
for both. In the two-KG path, sim_string, sim_embed, sim_structure
(and sim_token when enabled) read only the input pair — the structure
channel trains on GOLD seeds, not on semi_seeds — so ``align_kg_pair``
checkpoints them together, and semi_seeds starts as soon as string and
embed are done. The reference runs the same independence as separate
``--phase`` processes that hand off through files
(`main.py:183-200,282-368`). At benchmark size each stage is a chain
of 1-4-task jobs, so one driver thread leaves most cores idle;
overlapping the chains fills them. Fusion waits for every channel and
runs beside semi_seeds, which it never reads; semi-supervision rounds
stay sequential (each round reads the previous fused sim). The order
is written as data dependencies: training structure on gold ∪ semi
seeds would only add ``semi_seeds`` to its dependencies. The name
vectors are encoded once per op, into a lazily persisted pair of
frames that the embedding channel and every structure round read.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from functools import partial
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import evalx, simops
from ..operators.canonical import canonical_ids
from ..operators.ids import assign_dense_ids
from ..sources.kg import KGPair
from ..sources.stage import StageStore
from . import extract, name_channel


def construct_kg_from_pages(
    spark: SparkSession, pages: DataFrame, store: StageStore,
    dedup_names: bool = True,
) -> dict[str, DataFrame]:
    """Web-corpus KG construction (north rule): extract → encode →
    canonicalize → materialize. Returns the stage DataFrames."""
    surface = store.checkpoint(
        "triples_surface", lambda: extract.triples_for_parity(pages)
    )
    store.log_metrics("triples_surface", {"rows": store.rows("triples_surface")})

    def build_ents(_):
        names = surface.select(F.col("subj").alias("name")).unionByName(
            surface.select(F.col("obj").alias("name"))
        ).distinct()
        return assign_dense_ids(names, "name")

    def build_triples(done):
        ents = done["entities"]
        es = ents.select(F.col("name").alias("subj"), F.col("id").alias("src"))
        eo = ents.select(F.col("name").alias("obj"), F.col("id").alias("dst"))
        preds = assign_dense_ids(surface.select(F.col("pred").alias("name")).distinct(), "name")
        ep = F.broadcast(preds.select(F.col("name").alias("pred"), F.col("id").alias("rel")))
        return surface.join(es, "subj").join(eo, "obj").join(ep, "pred").select(
            "src", "rel", "dst"
        ).distinct()

    def build_canonical(done):
        ents = done["entities"]
        if not dedup_names:
            return ents.select(F.col("id").alias("node"), F.col("id").alias("component"))
        # same-normalized-name edges → CC → canonical ids
        from ..functions.names import remove_punct

        norm = ents.select("id", F.lower(remove_punct(F.col("name"))).alias("norm"))
        # STAR edges to the group-minimum id, NOT an all-pairs self-join:
        # a surface name occurring f times yields f−1 edges (linear),
        # where norm-join pairs would yield f²/2 — a hot web name
        # ("Home", "John Smith") at f=10⁶ would emit 10¹² join rows.
        # CC over the star is identical to CC over the clique.
        gmin = norm.groupBy("norm").agg(F.min("id").alias("a"))
        pairs = (
            norm.join(gmin, "norm")
            .where(F.col("id") != F.col("a"))
            .select("a", F.col("id").alias("b"))
        )
        return canonical_ids(pairs, ents, node_col="id")

    # triples and canonical read only entities (and the surface), so
    # they build together
    built = _checkpoint_graph(spark, store, {
        "entities": ((), build_ents),
        "triples": (("entities",), build_triples),
        "canonical": (("entities",), build_canonical),
    })
    ents, triples, canon = built["entities"], built["triples"], built["canonical"]

    def build_materialized():
        c_src = canon.select(F.col("node").alias("src"), F.col("component").alias("c_src"))
        c_dst = canon.select(F.col("node").alias("dst"), F.col("component").alias("c_dst"))
        return (
            triples.join(c_src, "src").join(c_dst, "dst")
            .select(
                F.col("c_src").alias("src"), "rel", F.col("c_dst").alias("dst")
            )
            .distinct()
            .withColumn("bucket", F.pmod(F.xxhash64("src"), F.lit(32)).cast("int"))
        )

    kg = store.checkpoint("kg_canonical", build_materialized, partition_by=["bucket"])
    store.log_metrics("kg_canonical", {"rows": store.rows("kg_canonical")})
    return {"surface": surface, "entities": ents, "triples": triples,
            "canonical": canon, "kg": kg}


def _checkpoint_graph(
    spark: SparkSession, store: StageStore,
    graph: dict[str, tuple[tuple[str, ...], Callable[[dict], DataFrame]]],
) -> dict[str, DataFrame]:
    """Checkpoint every ``name: (deps, build)`` stage of ``graph`` from a
    pool of driver threads, each as soon as the stages it reads are done;
    ``build`` gets the dict of finished stage frames. The pool may hold
    one thread per stage, so stages that become ready together (a
    diamond's two arms) also run together; its threads start on demand.

    Why threads: at small sizes a stage's jobs have 1-4 tasks, so one
    driver thread leaves most cores idle between and during its jobs;
    independent stages submitted together fill them. Every target is
    wrapped by its own ``inheritable_thread_target(spark)`` call, which
    clones the caller's local properties (job group, tags) for that
    thread alone. After a build raises, nothing new starts; the first
    exception is raised once the running builds have finished, and no
    thread outlives the call."""
    done: dict[str, DataFrame] = {}
    pending = dict(graph)

    def ready() -> list[str]:
        return [n for n, (deps, _) in pending.items() if all(d in done for d in deps)]

    error: BaseException | None = None
    with ThreadPoolExecutor(max_workers=len(graph)) as pool:
        running = {}
        while True:
            if error is None:
                for name in ready():
                    build = partial(pending.pop(name)[1], done)
                    task = inheritable_thread_target(spark)(
                        partial(store.checkpoint, name, build))
                    running[pool.submit(task)] = name
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for fut in finished:
                name = running.pop(fut)
                try:
                    done[name] = fut.result()
                except BaseException as e:  # re-raised below
                    error = error or e
    if error is not None:
        raise error
    return done


def align_kg_pair(
    spark: SparkSession, pair: KGPair, store: StageStore,
    knn_k: int = 50, use_structure: bool = True,
    emb_dim: int | str = "auto", use_token_channel: bool = False,
    k_parts: int = 4, it_rounds: int = 1, encoder="hashed",
) -> dict:
    """Two-KG alignment, reference phase order (`main.py:242-369`):
    name channel (string+embedding) and structure channel, built
    concurrently (module docstring) → fusion → eval. Each sim is a
    checkpointed stage (S4 analogue).

    The structure channel is the batched seed-anchor trainer
    (`run_batched_ea`, `main.py:58-88`), trained on GOLD seeds only.

    Fusion weights are fixed at the reference's: name = 1.0·embed +
    0.05·string (`main.py:350-354`), plus 0.3·token when
    ``use_token_channel``; fused = 1.0·structure + 1.0·name
    (`main.py:356`). Semi rounds mine at margin 0.05.

    ``emb_dim='auto'`` (default) widens the hashed name encoder from
    64 to 128 dims above 60k total entities — collision noise at fixed
    width grows with entity count (SCALE.md "Iterative quality"). The
    requested and resolved widths are logged as the ``emb_dim_choice``
    metrics row.

    ``encoder``: ``'hashed'`` (default) or a zero-arg model loader for
    a real transformer encoder (``model_name_encoder`` seam,
    `emb_loader.py:119-182`). Its vectors are computed once per op and
    feed BOTH channels: the embedding channel's kNN and the structure
    channel's initial embeddings in every round.

    ``it_rounds > 1`` enables iterative semi-supervision (M4/M8,
    `models/rrea/rrea.py:182-211`, `EAKit/semi_utils.py:20-110`): each
    extra round mines high-margin mutual pairs (W10/W11) from the
    current FUSED sim, conflict-filters them against gold train (U5
    anti-joins on both sides), re-trains the structure channel with
    gold ∪ mined, and re-fuses."""
    requested_dim = emb_dim
    # ONE aggregate over both entity dims: the entity count behind
    # emb_dim='auto' and KG1's id range (n_src) for the evaluation
    ent_stats = {r["side"]: r for r in (
        pair.kg1.ent.select(F.lit(1).alias("side"), "id")
        .unionByName(pair.kg2.ent.select(F.lit(2).alias("side"), "id"))
        .groupBy("side").agg(F.count("*").alias("n"), F.max("id").alias("max_id"))
        .collect()
    )}
    n_src = ((ent_stats[1]["max_id"] if 1 in ent_stats else None) or 0) + 1
    if emb_dim == "auto":
        # hashed-encoder collision noise grows with the entity count at
        # fixed width (numeric-suffix siblings nearly tie in trigram
        # space): name-only Hits@1 at 50k ents is 0.61 at dim=64 vs
        # 0.64 at 128 (SCALE.md "Iterative quality" / name_dim_probe).
        # 64 keeps small runs cheap; 128 above 30k entities. A real
        # transformer encoder (d=768 contract) makes this moot.
        n_ents = sum(r["n"] for r in ent_stats.values())
        emb_dim = 128 if n_ents >= 60_000 else 64

    store.log_metrics("emb_dim_choice", {
        "requested": requested_dim, "resolved": int(emb_dim),
    })

    def build_string(_):
        # stats are only populated on a cold build (resume skips it);
        # the metrics row records hot-bucket drops (no-silent-caps)
        stats: dict = {}
        sim = name_channel.string_similarity(pair, stats=stats)
        if stats:
            store.log_metrics("sim_string_blocking", stats)
        return sim

    train = pair.links.where(F.col("split") == "train").select("e1", "e2")
    # the name vectors, encoded once per op: sim_embed and every
    # structure round read this lazily persisted pair of frames, and a
    # resume that skips all of them never encodes
    emb1, emb2 = (e.localCheckpoint(eager=False) for e in name_channel.name_embeddings(
        pair, dim=emb_dim, encoder=encoder))

    def structure_build(extra_links: DataFrame | None):
        def build(*_):
            from .structure_channel import trained_batched_structure_similarity

            lks = train if extra_links is None else (
                train.unionByName(extra_links.select("e1", "e2")).distinct()
            )
            kgp = KGPair(kg1=pair.kg1, kg2=pair.kg2,
                         links=lks.withColumn("split", F.lit("train")))
            sim, _ = trained_batched_structure_similarity(
                kgp, emb1, emb2, k_parts=k_parts, knn_k=knn_k,
            )
            return sim

        return build

    def fuse_round(built: dict, structure_sim: DataFrame | None) -> DataFrame:
        name_parts = [built["sim_embed"], built["sim_string"]]
        # name = global + 0.05·string (`main.py:350-354`, A10/F11)
        name_w = [1.0, 0.05]
        if use_token_channel:
            name_parts.append(built["sim_token"])
            name_w.append(0.3)  # L4 token sim (`text_sim.py:247-262`)
        name_sim = simops.fuse(name_parts, name_w)
        if structure_sim is not None:
            # reference fuses stru + name at weight 1.0 (`main.py:356`)
            return simops.fuse([structure_sim, name_sim], [1.0, 1.0])
        return name_sim

    # stage → (stages it reads, build). The channels read only the input
    # pair (structure trains on GOLD seeds), so they build concurrently;
    # semi_seeds starts once string and embed are done, and sim_fused,
    # which semi_seeds never reads, once every channel is.
    graph = {
        "sim_string": ((), build_string),
        "sim_embed": ((), lambda _: name_channel.name_embedding_knn(emb1, emb2, k=knn_k)),
        "semi_seeds": (("sim_string", "sim_embed"),
                       lambda s: name_channel.semi_seeds(s["sim_embed"], s["sim_string"])),
    }
    if use_structure:
        graph["sim_structure"] = ((), structure_build(None))
    if use_token_channel:
        graph["sim_token"] = ((), lambda _: name_channel.token_level_similarity(
            pair, dim=emb_dim))
    graph["sim_fused"] = (tuple(n for n in graph if n != "semi_seeds"),
                          lambda s: fuse_round(s, s.get("sim_structure")))
    built = _checkpoint_graph(spark, store, graph)

    fused, seeds = built["sim_fused"], built["semi_seeds"]
    sims = {"string": built["sim_string"], "embed": built["sim_embed"]}
    if use_structure:
        sims["structure"] = built["sim_structure"]
    if use_token_channel:
        sims["token"] = built["sim_token"]

    # every sim is evaluated once, at the end, in ONE hits_and_mrr pass
    evals = {**sims, "fused": fused}

    # iterative semi-supervision (M4/M8): mine → conflict-filter →
    # re-train structure → re-fuse; every round's fused sim is evaluated
    for r in range(2, it_rounds + 1):
        if not use_structure:
            break
        mined = store.checkpoint(
            f"semi_mined_r{r}",
            # top1−top2 margin threshold 0.05 (W11 `filter_mapping`,
            # `sampler.py:13-34`)
            lambda: simops.margin_mutual_pairs(fused, 0.05)
            .select(F.col("src").alias("e1"), F.col("dst").alias("e2"))
            .join(train.select("e1"), "e1", "left_anti")
            .join(train.select("e2"), "e2", "left_anti"),
        )
        sims[f"structure_r{r}"] = store.checkpoint(
            f"sim_structure_r{r}", structure_build(mined))
        fused = store.checkpoint(
            f"sim_fused_r{r}", lambda: fuse_round(built, sims[f"structure_r{r}"])
        )
        evals[f"fused_r{r}"] = fused

    # CSLS-rescored eval (the reference's test-time protocol, W7;
    # `eval.py:82-129`, `models/rrea/CSLS.py:56-95`) — computed on the
    # FINAL fused sim (after any semi-supervision rounds) so both
    # headline metrics describe the same sim table.
    evals["fused_csls"] = simops.csls_rescore(fused, k=10)

    test = pair.links.where(F.col("split") == "test")
    metrics = evalx.hits_and_mrr(evals, test, ks=(1, 5, 50), n_src=n_src)
    for name, m in metrics.items():
        store.log_metrics(f"eval_{name}", m)
    if use_structure and it_rounds > 1:
        metrics["fused"] = metrics[f"fused_r{it_rounds}"]  # final = last round

    return {"sims": sims, "fused": fused, "seeds": seeds, "metrics": metrics}
