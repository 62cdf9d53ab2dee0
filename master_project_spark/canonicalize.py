"""Entity canonicalization: MinHash-LSH blocking + iterative-join connected
components. Connected components has one code path, the DataFrame-only
iterative min-label propagation below (SURVEY.md §7 step 6):

- blocking avoids the O(n²) pair explosion: 16 MD5 MinHashes over char
  3-shingles, banded 2-per-band into 8 LSH buckets per surface; only
  surfaces sharing a (band_idx, band_hash) bucket become candidate pairs;
- oversized buckets (> max_bucket) are dropped with a logged count — a
  deliberate, visible cap, not silent truncation (they are re-covered by the
  exact alias edges);
- candidate pairs are verified by signature agreement >= ``min_agree`` of 16;
- connected components run as driver-loop iterative joins with
  ``localCheckpoint()`` per round (lineage truncation, SURVEY §2.11 C5) and
  an ``exceptAll``-style changed-count == 0 termination probe (X2,
  ent_extraction.py:360-361 analog);
- label = lexicographic MIN, so the fixpoint is order- and
  partitioning-independent (deterministic under any parallelism).

Linked surfaces (alias-dict hits) seed their cluster with a "0"-prefixed
label so the dictionary canonical id always wins the min; unlinked surfaces
get "1" + canonical_key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .udfs import canonical_key_udf, minhash_udf

NUM_HASHES = 16
BAND_SIZE = 2


def surface_vertices(surfaces: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(surface) -> (surface, skey, init_label). alias_dict is broadcast —
    it is small by construction (FIXTURES.md §2) and the surface side is
    skewed (J6, north_star)."""
    s = surfaces.select("surface").distinct().withColumn(
        "skey", canonical_key_udf(F.col("surface")))
    linked = s.join(
        F.broadcast(alias_dict.select(F.col("alias"), F.col("canonical_id"))),
        F.lower(F.col("surface")) == F.col("alias"), "left")
    return linked.select(
        "surface", "skey",
        F.when(F.col("canonical_id").isNotNull(),
               F.concat(F.lit("0"), F.col("canonical_id")))
        .otherwise(F.concat(F.lit("1"), F.col("skey"))).alias("init_label"))


def lsh_candidate_pairs(vertices: DataFrame, max_bucket: int = 50,
                        min_agree: int = 8) -> tuple[DataFrame, int]:
    """Candidate skey pairs from LSH banding, verified by MinHash agreement.
    Returns (pairs, n_dropped_buckets)."""
    keys = vertices.select("skey").distinct().withColumn(
        "sig", minhash_udf(F.col("skey")))
    bands = keys.select(
        "skey", "sig",
        F.posexplode(F.expr(
            f"transform(sequence(0, {NUM_HASHES // BAND_SIZE - 1}), "
            f"b -> hash(sig[b*{BAND_SIZE}], sig[b*{BAND_SIZE}+1], b))"
        )).alias("band_idx", "band_hash"))
    sizes = bands.groupBy("band_idx", "band_hash").count()
    n_dropped = sizes.filter(F.col("count") > max_bucket).count()
    ok_buckets = sizes.filter(F.col("count") <= max_bucket).drop("count")
    b = bands.join(ok_buckets, ["band_idx", "band_hash"])
    a1 = b.select(F.col("skey").alias("ka"), F.col("sig").alias("siga"),
                  "band_idx", "band_hash")
    a2 = b.select(F.col("skey").alias("kb"), F.col("sig").alias("sigb"),
                  "band_idx", "band_hash")
    pairs = (
        a1.join(a2, ["band_idx", "band_hash"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", "siga", "sigb").distinct()
        .withColumn("agree", F.expr(
            "size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))"))
        .filter(F.col("agree") >= min_agree)
        .select("ka", "kb")
    )
    return pairs, n_dropped


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 50) -> DataFrame:
    """Iterative min-label propagation. vertices: (skey, init_label);
    edges: (ka, kb) undirected. Returns (skey, entity_label).

    Convergence requires iterations >= cluster diameter; non-convergence
    within max_iter (a >50-hop near-dup chain) is loudly warned rather than
    silently emitting split clusters."""
    import warnings

    sym = edges.union(edges.select(F.col("kb").alias("ka"),
                                   F.col("ka").alias("kb")))
    sym = sym.localCheckpoint(eager=True)
    converged = False
    labels = (vertices.groupBy("skey")
              .agg(F.min("init_label").alias("label"))
              .localCheckpoint(eager=True))
    def propagate(lbls: DataFrame) -> DataFrame:
        msgs = (sym.join(lbls, sym.ka == lbls.skey)
                .select(F.col("kb").alias("skey"), "label"))
        return (lbls.select("skey", "label").union(msgs)
                .groupBy("skey").agg(F.min("label").alias("label")))

    for _ in range(0, max_iter, 3):
        # THREE propagation steps per convergence probe (round-3: was 2):
        # the probe is a driver-synchronized action — the serial component
        # of the whole pipeline at high core counts — and propagation past
        # the fixpoint is a cheap no-op, so widening the stride trades a
        # little redundant map work for a third fewer driver round-trips.
        # (Stride >3 showed no further gain: typical surface-cluster
        # diameters converge in <=4 steps, so wider strides only add
        # no-op joins.)
        # lazy checkpoint: the changed-count below is the single action
        # that both materializes the truncated lineage and tests
        # convergence
        new_labels = propagate(propagate(propagate(labels))) \
            .localCheckpoint(eager=False)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "skey")
                   .filter(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components did not converge within {max_iter} "
            "iterations — some clusters may be split", RuntimeWarning,
            stacklevel=2)
    return labels.withColumnRenamed("label", "entity_label")


def build_entity_map(surfaces: DataFrame, alias_dict: DataFrame,
                     max_bucket: int = 50, min_agree: int = 8) -> tuple[DataFrame, int]:
    """surface -> entity_id. entity_id is 'ent_*' (dictionary canonical) when
    the cluster contains a linked surface, else 'surf_<min canonical_key>'.
    Deterministic under any partitioning/parallelism."""
    # materialize once: the distinct-surface shuffle feeds the LSH count,
    # the CC seed, and the final map — without this it recomputes per action
    vertices = surface_vertices(surfaces, alias_dict) \
        .localCheckpoint(eager=True)
    pairs, n_dropped = lsh_candidate_pairs(
        vertices, max_bucket=max_bucket, min_agree=min_agree)
    labels = connected_components(
        vertices.select("skey", "init_label"), pairs)
    entity_map = (
        vertices.select("surface", "skey")
        .join(labels, "skey")
        .select(
            "surface", "skey",
            F.when(F.col("entity_label").startswith("0"),
                   F.expr("substring(entity_label, 2)"))
            .otherwise(F.concat(F.lit("surf_"),
                                F.expr("substring(entity_label, 2)")))
            .alias("entity_id"))
    )
    return entity_map, n_dropped
