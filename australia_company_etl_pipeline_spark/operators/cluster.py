"""Corpus clustering + class-based TF-IDF topic terms (r7).

The corpus-exploration layer of a curation pipeline: group documents
(by an existing class column, or by k-means over their embeddings) and
surface what each group is ABOUT — the c-TF-IDF term ranking of
BERTopic (Grootendorst 2022; the class-based TF-IDF reduction), with
per-cluster sizes and a representative document.

Scale shape: tokenize once, explode, ONE partial-aggregated
(class, term) shuffle; the corpus-wide term frequencies and per-class
totals are DERIVED from that aggregate (tiny reductions of it), never
from a second corpus scan. The final top-k ranking windows over the
per-class distinct-term table — vocabulary-bounded, and ``min_count``
prunes the hapax tail first (the same discipline as
``profile.top_values``), so the window input stays small at any corpus
size. Clustering reuses ``ann.kmeans_centroids`` — the persisted IVF
index's training kernel — so a corpus that already has an IVF index
topics for free from its stored centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import ann
from .staging import stage
from .textstats import tokens

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from .staging import release as unpersist_cluster  # noqa: F401


def ctfidf_terms(docs: DataFrame, class_col: str, text_col: str = "text",
                 top_k: int = 5, min_count: int = 2,
                 persist: bool = False) -> DataFrame:
    """c-TF-IDF top terms per class:

        score(t, c) = (tf_{t,c} / words_c) · ln(1 + A / f_t)

    where ``tf_{t,c}`` counts term t in class c, ``words_c`` is class
    c's token total, ``f_t`` the corpus-wide occurrence count of t and
    ``A`` the average class token total — the BERTopic reduction of
    TF-IDF to one pseudo-document per class. Returns (class_col, term,
    tf, score, rank), rank 1..top_k per class, score rounded to 6
    places, ties broken by term ascending (deterministic). NULL-class
    rows are excluded (no class, no topic).

    With ``persist=False`` the (class, term) aggregate is lineage-only:
    its three consumers (class totals, corpus term totals, scoring)
    each REPLAN the corpus explode under it — four scans for one
    logical pass. Pass ``persist=True`` when the corpus scan isn't
    free (always, at scale); it is staged and released with the
    caller's staging scope (``operators/staging.py``).
    """
    toks = (docs.filter(F.col(class_col).isNotNull())
            .select(class_col, F.explode(tokens(F.col(text_col)))
                    .alias("term")))
    tf = (toks.groupBy(class_col, "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    if persist:
        tf = stage(tf)
    # everything below derives from the (class, term) aggregate —
    # one pass over the corpus when persisted
    class_tot = tf.groupBy(class_col).agg(F.sum("tf").alias("__wc"))
    term_tot = tf.groupBy("term").agg(F.sum("tf").alias("__ft"))
    avg_row = class_tot.agg(F.avg("__wc").alias("__A"))
    scored = (tf.filter(F.col("tf") >= min_count)
              .join(F.broadcast(class_tot), class_col)
              .join(term_tot, "term")
              .crossJoin(F.broadcast(avg_row))
              .withColumn(
                  "score",
                  F.round((F.col("tf").cast("double") / F.col("__wc"))
                          * F.log(F.lit(1.0)
                                  + F.col("__A") / F.col("__ft")), 6)))
    w = Window.partitionBy(class_col).orderBy(F.desc("score"),
                                              F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(class_col, "term", "tf", "score", "rank"))


def assign_clusters(embeddings: DataFrame, centroids: DataFrame,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment → (id_col, cluster_id, sim): the
    IVF probe shape — unit-normalize once, broadcast the k-row centroid
    table, reduce the n×k pairs with the ``max(struct)`` partial
    aggregate (ties to the lowest centroid id, ann._best_centroid).
    ``centroids`` is ``ann.kmeans_centroids``'s (centroid_id,
    centroid_vec) frame — or the same table read from a persisted IVF
    index."""
    vecs = ann._unit(embeddings.select(F.col(id_col),
                                       ann._dbl(F.col(vec_col))
                                       .alias("__v")), "__v")
    best = ann._best_centroid(ann.dot(F.col("__v"),
                                      F.col("centroid_vec")))
    return (vecs.crossJoin(F.broadcast(centroids))
            .groupBy(id_col)
            .agg(best)
            .select(id_col, F.col("b.cid").alias("cluster_id"),
                    F.col("b.sim").alias("sim")))


def cluster_topics(docs: DataFrame, embeddings: DataFrame,
                   n_clusters: int = 8, id_col: str = "doc_id",
                   text_col: str = "text", vec_col: str = "embedding",
                   top_k: int = 5, min_count: int = 2,
                   centroids: DataFrame | None = None,
                   ) -> tuple[DataFrame, DataFrame]:
    """K-means the embedding frame (or reuse ``centroids`` — e.g. a
    persisted IVF index's, so no second training run), join assignments
    onto the documents, and return

    - ``terms``: the c-TF-IDF top terms per cluster
      (cluster_id, term, tf, score, rank), and
    - ``summary``: per-cluster (cluster_id, n_docs, rep_id, rep_sim)
      where ``rep_id`` is the member closest to its centroid
      (deterministic min-id tie-break) — the document you'd read to
      label the cluster.
    """
    if centroids is None:
        centroids = ann.kmeans_centroids(embeddings, n_clusters,
                                         id_col=id_col, vec_col=vec_col)
    assigned = assign_clusters(embeddings, centroids, id_col, vec_col)
    labeled = docs.join(assigned.select(id_col, "cluster_id"), id_col)
    terms = ctfidf_terms(labeled, "cluster_id", text_col,
                         top_k=top_k, min_count=min_count)
    summary = (assigned.groupBy("cluster_id")
               .agg(F.count(F.lit(1)).alias("n_docs"),
                    F.max(F.struct(
                        F.col("sim"),
                        (-F.col(id_col)).alias("__nid"))).alias("__best"))
               .select("cluster_id", "n_docs",
                       (-F.col("__best.__nid")).alias("rep_id"),
                       F.col("__best.sim").alias("rep_sim")))
    return terms, summary
