"""EP-1: the full KG-construction pipeline (SURVEY.md §3).

    documents ─ resume-filter ─ salted-repartition ─ extract(UDF) ─ triples
      triples ─ mentions ─ exact ∪ LSH ∪ mint links
        links ─ sameAs edges ─ large/small-star CC ─ canonical ids
          triples ⋈ links (AQE skew + optional salt) ─ edges table
          nodes  ⋈ canonical                          ─ vertices table
      + span-sequence invariant check, checkpoint rows, metrics

Graph model: every distinct mention_norm is a node (id = xxhash64(norm));
every linked dictionary entity is a node (id = entity_id).  sameAs edges
connect a mention node to its linked dict entity; minted mentions contribute
self-loops so they survive as isolated vertices.  Connected components then
canonicalize chains like {typo mention → dict entity ← exact mention} into
one canonical_id = min(component).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from openie_spark.catalog import ParquetCatalog
from openie_spark.operators.components import connected_components
from openie_spark.operators.extract import extract_stage, mentions_from_triples
from openie_spark.operators.invariant import arrow_roundtrip, check_span_invariant
from openie_spark.operators.linking import link_mentions
from openie_spark.functions.lineage import cut_lineage
from openie_spark.operators.skew import hot_keys, salted_join, salted_repartition
from openie_spark.plans import checkpoint as ckpt
from openie_spark.schemas import EDGES_SCHEMA, VERTICES_SCHEMA, assert_schema

STAGES = ("extract", "link", "canonicalize", "materialize")

# Key share above which materialize salts a key (salted shuffle joins only).
HOT_SHARE = 0.02
# Per-mille deterministic doc sample for the in-run invariant gate
# (1000 = exhaustive).  The gate Arrow-roundtrips + reshuffles its input —
# at 100 TB an exhaustive in-run check doubles corpus I/O for a canary, so
# it probes a hash-stable 5% slice (the same docs every run); the
# EXHAUSTIVE per-row gate lives in pytest L3a and the corruption-detection
# tests target the checker directly.
INVARIANT_SAMPLE_PM = 50
# Extract-stage physical plan.  Both plans salt-repartition on doc_id:
#   salted:    full-width salt → perfectly uniform extraction, but the
#              triples must be re-shuffled onto partition_id before the
#              partitioned write — a second shuffle of the LARGER side
#              (triples + deps outweigh the raw docs ~2:1);
#   clustered: bounded salt pmod(xxhash64(doc_id), gran), gran a multiple
#              of n_buckets — the salt REFINES partition_id, so the UDF
#              output is already clustered and the triples shuffle goes;
#              gran ≥ 16 × shuffle partitions keeps extraction balanced.
# Clustered runs iff the gran sub-buckets hold ≥ CLUSTER_MIN_DOCS_PER_BUCKET
# pending docs each — relative, so it self-scales with parallelism.
# Measured interleaved A/B on one host: 195-doc sub-buckets (200 k docs)
# clustered LOSES, 9.8 s vs 5.8 s (1024 tiny files + 256 tiny UDF tasks);
# 3.9 k-doc sub-buckets (2 M docs) it WINS, 29.6 s vs 35.4 s.  On a
# 1000-executor cluster (nparts ~16 k) it engages from ~256 M pending docs.
CLUSTER_MIN_DOCS_PER_BUCKET = 1000


@dataclass
class PipelineConfig:
    run_id: str = "run0"
    n_buckets: int = 64
    repartition: int | None = None  # default: spark.sql.shuffle.partitions
    salt: int = 8
    # broadcast the vocab-bounded mention→canonical map into the two
    # triples joins: a broadcast hash join never shuffles the (huge)
    # triples table, so materialize drops its two biggest shuffles.  Turn
    # off when the distinct-mention vocabulary outgrows the broadcast
    # budget (1e9+ mentions) — the salted shuffle path then takes over.
    broadcast_canon: bool = True
    collect_counts: bool = True  # False: skip informational count() actions
    check_invariant: bool = True  # in-run span-sequence gate (OP-25)
    stages: tuple = STAGES  # a prefix of STAGES: the run stops at the first absent


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    alias_dict: DataFrame,
    cat: ParquetCatalog,
    cfg: PipelineConfig | None = None,
) -> dict:
    cfg = cfg or PipelineConfig()
    out: dict = {"run_id": cfg.run_id}
    nparts = cfg.repartition or int(spark.conf.get("spark.sql.shuffle.partitions"))

    # ---- extract stage (checkpointed, resumable) --------------------------
    # One driver-side checkpoint snapshot serves every stage gate below
    # (valid because gates only consult rows from BEFORE this run's
    # writes: extract's resume set is read pre-write, and each stage_done
    # is evaluated before that stage records anything).
    ck_state = ckpt.collect_run_state(cat, cfg.run_id)
    with_pid = ckpt.with_partition_id(docs, cfg.n_buckets)
    # Incremental resume: per-bucket fingerprints in ONE scan (the global
    # fingerprint for the downstream stage chain derives from their sums,
    # identical to a whole-input fingerprint).  A delta append/modify
    # changes only the touched buckets' fingerprints, so only those
    # re-extract.  New doc_ids hash uniformly over the buckets: d new docs
    # touch 64·(1−(63/64)^d) of 64 buckets on average (about 63 at
    # d = 300), so only a small delta re-extracts a small share.
    pid_fps = ckpt.partition_fingerprints(with_pid)
    fingerprint = ckpt.global_fingerprint(pid_fps)
    done = ckpt.done_pids_by_fp(ck_state, "extract", pid_fps)
    if not pid_fps and any(s == "extract" for (s, *_rest) in ck_state):
        # Destructive-guard: an EMPTY input against a run that already
        # extracted would purge every triples partition — almost always a
        # transient upstream feed glitch, never silently actionable.
        # Intentionally emptying a corpus takes a fresh run_id/table.
        raise ValueError(
            f"run {cfg.run_id!r}: input is empty but the checkpoint has "
            "completed extract work — refusing to purge the corpus; use a "
            "new run_id (and table root) if this is intentional"
        )
    todo = (
        with_pid.where(~F.col("partition_id").isin(sorted(done)))
        if done
        else with_pid
    )

    with ckpt.StageTimer() as t_extract:
        pending = todo.count()
        if pending > 0:
            # Purge the partitions being RECOMPUTED before the write:
            # dynamic partition-overwrite only replaces partitions present
            # in the written output, so a bucket whose new extraction
            # yields ZERO triples would otherwise keep serving its old
            # rows while being checkpointed done under the new
            # fingerprint.  Crash-safe: if we die after the purge, these
            # buckets' done rows carry the OLD fingerprint, so the next
            # run recomputes them.
            recompute = sorted(set(pid_fps) - done)
            if cat.exists("triples"):
                cat.drop_partitions("triples", "partition_id", recompute)
            factor = max(1, -(-16 * nparts // cfg.n_buckets))
            gran = cfg.n_buckets * factor
            clustered = pending >= gran * CLUSTER_MIN_DOCS_PER_BUCKET
            # partition_id is a pure function of doc_id — recompute, don't join
            pid_expr = F.pmod(F.xxhash64("doc_id"), F.lit(cfg.n_buckets)).cast(
                "int"
            )
            if clustered:
                # Bounded-salt repartition: gran is a multiple of n_buckets,
                # so pmod(h, gran) determines pmod(h, n_buckets) and every
                # task holds whole sub-buckets → the partitioned write below
                # needs NO second shuffle (file count = gran, not tasks ×
                # buckets).  4×nparts tasks → ≥4 scheduling waves smooth the
                # sub-bucket-granularity imbalance.
                sub = F.pmod(F.xxhash64("doc_id"), F.lit(gran)).cast("int")
                balanced = todo.drop("partition_id").repartition(4 * nparts, sub)
            else:
                balanced = salted_repartition(todo, nparts, "doc_id").drop(
                    "partition_id"
                )
            triples_out = extract_stage(balanced).withColumn("partition_id", pid_expr)
            if not clustered:
                # cluster rows by bucket before the partitioned write: each
                # bucket lands in exactly one task, so each partition dir
                # gets one file (unclustered, every task would touch every
                # dir: tasks × buckets tiny files).  Never more tasks than
                # the session's parallelism — below n_buckets a task writes
                # several whole buckets, and the write stage's fixed
                # per-task cost does not scale with n_buckets.
                triples_out = triples_out.repartition(
                    min(nparts, cfg.n_buckets), "partition_id"
                )
            cat.write_table(triples_out, "triples", partition_by=["partition_id"])
            # ONE load (one partition-directory listing) of the written
            # table serves the stats below and every downstream stage;
            # it is reloaded only if the stale purge below drops partitions.
            written = cat.load_table("triples")
            # per-partition metrics from the WRITTEN table — recomputing
            # `triples` here would re-run the whole extraction UDF a second
            # time (DataFrame actions do not reuse shuffle/UDF work)
            # n_in per bucket is already on the driver (the 'n:' half of
            # each fingerprint) — rebuilding it from the corpus would be a
            # whole redundant scan at the 100 TB posture; only the written-
            # triples counts need a (cheap, output-side) aggregation.
            base = ckpt.driver_frame(
                spark,
                [(p, int(f.split(":")[0]), f) for p, f in sorted(pid_fps.items())],
                "partition_id int, n_in long, input_fingerprint string",
            )
            stats = (
                base.join(
                    written.groupBy("partition_id").agg(F.count("*").alias("n_triples")),
                    "partition_id",
                    "left",
                )
                .select(
                    "partition_id",
                    "n_in",
                    F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
                    "input_fingerprint",  # per-bucket fp -> incremental gate
                )
            )
    if pending > 0:
        ckpt.record_done(
            cat, cfg.run_id, "extract", fingerprint, stats, t_extract.wall_ms
        )
    # Purge buckets whose docs VANISHED from the input.  The stale set is
    # derived from the table's ON-DISK partition listing (not checkpoint
    # state), so the purge is idempotent under a crash at any point; the
    # 'dropped' marker is appended BEFORE the delete — marker-without-
    # delete re-purges next run, delete-without-marker would gate a
    # reappearance of identical content as done with its data gone.
    stale: list[int] = []
    if cat.exists("triples"):
        stale = sorted(
            set(cat.list_partitions("triples", "partition_id")) - set(pid_fps)
        )
        if stale:
            ckpt.record_dropped(cat, cfg.run_id, "extract", stale)
            cat.drop_partitions("triples", "partition_id", stale)
    out["extract_stale_partitions"] = len(stale)
    if pending == 0 or stale:
        written = cat.load_table("triples")
    triples = written.drop("partition_id")
    if cfg.collect_counts:
        out["n_triples"] = triples.count()
    out["extract_wall_ms"] = t_extract.wall_ms
    out["extract_pending_docs"] = pending

    # ---- invariant gate (OP-25) -------------------------------------------
    # The thorough per-row byte-equality gate lives in pytest (L3a, input
    # hint: "verify with pytest"); this in-run check compares the source
    # against an identity Arrow-roundtrip + shuffle lineage — the two
    # hazards extraction exposes documents to — so it checks two genuinely
    # different computations.  Two extra full scans; operators running
    # fixed-cost-sensitive jobs may disable it.
    if cfg.check_invariant:
        probe = docs.where(
            F.pmod(F.xxhash64("doc_id"), F.lit(1000)) < INVARIANT_SAMPLE_PM
        )
        inv = check_span_invariant(probe, arrow_roundtrip(probe))
        out["span_invariant"] = inv
        if not inv["ok"]:
            raise AssertionError(f"span invariant violated: {inv}")
    if "link" not in cfg.stages:
        return out

    # ---- stage-level resume fingerprints ----------------------------------
    # Downstream stages are GLOBAL computations (mention vocabulary /
    # component graph), so their resume unit is the stage (sentinel
    # checkpoint row, ckpt.STAGE_SENTINEL_PID).  Fingerprints chain: link
    # depends on the docs AND the alias dict; canonicalize + materialize
    # are deterministic functions of the link output, so they share the
    # link fingerprint — any upstream change invalidates all of them.
    alias_fp = ckpt.table_fingerprint(alias_dict)
    link_fp = f"{fingerprint}+{alias_fp}"

    # ---- link → canonicalize → materialize: one shape per stage -----------
    # _stage_done gate, timed compute-or-load, result count, _finish_stage.
    # perfbench/tracer.py names a count() by its line in this body.
    link_done = _stage_done(ck_state, cat, "link", link_fp, "links")
    with ckpt.StageTimer() as t_link:
        mentions = mentions_from_triples(triples)
        if link_done:
            links = cat.load_table("links")
        else:
            links = cut_lineage(link_mentions(mentions, alias_dict), eager=True)
            cat.write_table(links, "links")
    if cfg.collect_counts:
        out["n_links"] = links.count()
    _finish_stage(cat, cfg.run_id, out, "link", link_fp, link_done, t_link, "n_links")
    if "canonicalize" not in cfg.stages:
        return out

    canon_done = _stage_done(ck_state, cat, "canonicalize", link_fp, "cc_assign")
    with ckpt.StageTimer() as t_canon:
        if canon_done:
            cc = cat.load_table("cc_assign")
        else:
            cc = cut_lineage(connected_components(_sameas_edges(links)), eager=True)
            cat.write_table(cc, "cc_assign")
    if cfg.collect_counts:
        out["n_components"] = cc.where(F.col("id") == F.col("rep")).count()
    _finish_stage(
        cat, cfg.run_id, out, "canonicalize", link_fp, canon_done, t_canon,
        "n_components",
    )
    if "materialize" not in cfg.stages:
        return out

    mat_done = _stage_done(ck_state, cat, "materialize", link_fp, "vertices", "edges")
    with ckpt.StageTimer() as t_mat:
        hot = [] if mat_done else _materialize(
            cat, cfg, triples, mentions, links, cc, alias_dict
        )
    if cfg.collect_counts:
        out["n_vertices"] = cat.load_table("vertices").count()
        out["n_edges"] = cat.load_table("edges").count()
    out["n_hot_keys"] = len(hot)
    _finish_stage(
        cat, cfg.run_id, out, "materialize", link_fp, mat_done, t_mat, "n_edges"
    )
    return out


def _stage_done(
    ck_state: set[tuple], cat: ParquetCatalog, stage: str, fp: str, *tables: str
) -> bool:
    """A global stage is done when its sentinel checkpoint row matches
    ``fp`` AND every table it writes exists: a crash mid-write, or between
    the write and the row, leaves the stage to recompute."""
    return ckpt.STAGE_SENTINEL_PID in ckpt.done_pids(ck_state, stage, fp) and all(
        cat.exists(t) for t in tables
    )


def _finish_stage(
    cat: ParquetCatalog, run_id: str, out: dict, stage: str, fp: str,
    skipped: bool, timer: ckpt.StageTimer, n_key: str,
) -> None:
    """Append the stage's sentinel row unless it was skipped (it already
    has one), then report its wall time and skip flag.  The row's count
    is ``out[n_key]``, -1 when counts are off."""
    if not skipped:
        n_out = out.get(n_key, -1)
        ckpt.record_stage_done(cat, run_id, stage, fp, n_out, timer.wall_ms)
    out[f"{stage}_wall_ms"] = timer.wall_ms
    out[f"{stage}_skipped"] = skipped


def _sameas_edges(links: DataFrame) -> DataFrame:
    """Component-graph edges: mention node → linked dict entity for every
    non-minted link; a minted mention is a self-loop on its minted id, so
    it survives as an isolated vertex."""
    nodes = links.select(
        F.xxhash64("mention_norm").alias("src"),
        F.col("entity_id").alias("dst"),
        "method",
    )
    sameas = nodes.where(F.col("method") != "minted").select("src", "dst")
    self_loops = nodes.where(F.col("method") == "minted").select(
        F.col("dst").alias("src"), F.col("dst").alias("dst")
    )
    return sameas.unionByName(self_loops)


def _materialize(
    cat: ParquetCatalog, cfg: PipelineConfig, triples: DataFrame,
    mentions: DataFrame, links: DataFrame, cc: DataFrame, alias_dict: DataFrame,
) -> list:
    """Write the vertices and edges tables; returns the hot keys the
    salted joins split (none on the broadcast path)."""
    # node table: mention nodes + dict entity nodes
    mention_counts = mentions.groupBy("mention_norm").agg(
        F.count("*").alias("n_mentions")
    )
    mention_vertices = links.join(mention_counts, "mention_norm", "left").select(
        F.xxhash64("mention_norm").alias("entity_id"),
        F.col("mention_norm").alias("name"),
        F.coalesce("n_mentions", F.lit(0)).alias("n_mentions"),
    )
    dict_vertices = (
        links.where(F.col("method") != "minted")
        .join(
            alias_dict.select("entity_id", "entity_name").dropDuplicates(["entity_id"]),
            "entity_id",
        )
        .select(
            "entity_id",
            F.col("entity_name").alias("name"),
            F.lit(0).cast("long").alias("n_mentions"),
        )
        .dropDuplicates(["entity_id"])
    )
    nodes = mention_vertices.unionByName(dict_vertices).dropDuplicates(["entity_id"])
    vertices = nodes.join(cc, nodes.entity_id == cc.id, "left").select(
        "entity_id",
        F.coalesce("rep", F.col("entity_id")).alias("canonical_id"),
        "name",
        "n_mentions",
    )
    assert_schema(vertices, VERTICES_SCHEMA, "vertices")

    # triples → canonical edges; mention_norm → node id → canonical id
    norm_to_canon = links.select(
        "mention_norm", F.xxhash64("mention_norm").alias("node_id")
    ).join(cc, F.col("node_id") == cc.id, "left").select(
        "mention_norm",
        F.coalesce("rep", F.col("node_id")).alias("canonical_id"),
    )
    # one explode-projection scan of triples (not a 2x union of
    # projections): subj_norm and arg_norm rows come out of the same
    # pass, and hot_keys itself derives its total from the grouped
    # counts — triples is read exactly once for hot-key detection.
    # Skipped entirely when the canonical map is broadcast: a
    # broadcast hash join never shuffles the big side, so the hot
    # list would be dead diagnostics bought with a full triples scan.
    hot = (
        hot_keys(
            triples.select(F.explode(F.array("subj_norm", "arg_norm")).alias("k")),
            "k",
            HOT_SHARE,
        )
        if not cfg.broadcast_canon
        else []
    )

    def canon_join(df: DataFrame, norm: str, canon: str, salt_src: list) -> DataFrame:
        return salted_join(
            df.withColumnRenamed(norm, "mention_norm"),
            norm_to_canon.withColumnRenamed("canonical_id", canon),
            "mention_norm",
            hot,
            cfg.salt,
            salt_src=salt_src,
            broadcast_small=cfg.broadcast_canon,
        ).drop("mention_norm")

    t1 = canon_join(
        triples, "subj_norm", "subj_canonical", ["doc_id", "sent_idx", "arg"]
    )
    t2 = canon_join(t1, "arg_norm", "obj_canonical", ["doc_id", "sent_idx", "subj"])
    edges = t2.select(
        "subj_canonical", F.col("rel").alias("pred"), "obj_canonical",
        "doc_id", "sent_idx", "conf",
    )
    assert_schema(edges, EDGES_SCHEMA, "edges")
    cat.write_table(vertices, "vertices")
    cat.write_table(edges, "edges")
    return hot
