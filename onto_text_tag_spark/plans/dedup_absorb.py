"""Incremental corpus-dedup absorb: commit a crawl delta into an
existing ``jobs/dedup_corpus.py`` snapshot root without
re-fingerprinting, re-banding, or re-verifying the base corpus.

north_rule framing: at web scale the corpus is append-mostly — a daily
crawl delta is orders of magnitude smaller than the accumulated corpus,
and a dedup pass that rescans the corpus per delta is O(corpus) per day
instead of O(delta).  Cost model per batch (all delta-sized):

* fingerprints — only never-seen ids are shingled/signed (anti-join
  against the live ``signatures`` store);
* exact dups — delta digests join base digests pruned to the delta's
  digest set (``operators/dedup.py:incremental_exact_edges``);
* near dups — delta band keys are banded against base band rows pruned
  to buckets the delta touches; the union bucket is capped exactly as a
  rebuild would cap it (``incremental_lsh_pairs``); verification
  (signature-estimate prefilter + exact shingle Jaccard) is per-pair
  arithmetic, identical to the batch stage;
* clusters — ``operators/components.py:merge_components`` contracts
  base endpoints to their component representative and runs CC over the
  delta-sized mini graph: provably equal to CC over the union edge set;
* corpus — delta survivors land as an Iceberg-style file APPEND into
  ``deduped``; base docs whose representative status a bridging delta
  doc revokes land in a merge-on-read ``demoted`` delete set
  (Iceberg's delete-file pattern: the live corpus view is
  ``read_deduped`` = deduped ∖ demoted; compaction may fold it in).

Equality with a full rebuild over the union corpus is pinned by
tests/test_dedup_update_job.py; the cluster-merge algebra is
DuckDB-oracle-checked by the ``dedup_clusters_incremental`` driver
query.  One documented divergence: a rebuild applies the LSH bucket cap
to union buckets, which can also REMOVE base-base candidate pairs when
a delta pushes a bucket over the cap — this absorb treats base edges as
committed history (it never un-verifies a pair), which is the safer
semantics for an append-only corpus.

Commit protocol (single writer per root, crash-safe, idempotent),
mirroring ``plans/kg_absorb.py``:

1. stage delta snapshots under ``<root>/_staging/<tag>/`` (resumable
   via input fingerprints — a crashed run re-reads, never recomputes);
2. file-append delta signatures into ``signatures``, delta survivors
   into ``deduped``, demoted base ids into ``demoted`` (deterministic
   ``batch-<tag>-NNNNN.parquet`` names — re-runs skip landed files);
3. swap the merged ``clusters`` subtree (rename-old → copy-new →
   drop-old, torn states recovered on restart);
4. seal every touched stage via ``sinks.commit_stage``; the
   ``clusters`` seal carries the batch fingerprint and is LAST — it is
   the commit point: a batch whose fingerprint is already in the
   clusters snapshot log is a committed no-op.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from onto_text_tag_spark.operators.components import merge_components
from onto_text_tag_spark.operators.dedup import (
    content_digest,
    incremental_exact_edges,
    incremental_lsh_pairs,
    jaccard_from_shingle_arrays,
    minhash_signatures,
    minhash_signatures_np,
    ngram_jaccard_pairs,
    signature_jaccard_filter,
)
from onto_text_tag_spark.plans.kg_absorb import (
    _append_batch_files,
    _recover_swap,
    _swap_subtree,
)
from onto_text_tag_spark.session import local_df
from onto_text_tag_spark.sinks import (
    append_stage_iceberg,
    commit_stage,
    drop_stage_table,
    iceberg_available,
    read_manifest,
    read_stage,
    replace_stage_iceberg,
    run_stage,
    snapshot_log,
    write_stage,
)


def read_deduped(spark: SparkSession, root: str) -> DataFrame:
    """The LIVE deduped corpus view over an (possibly absorb-grown)
    dedup root: the append-only ``deduped`` stage minus the
    merge-on-read ``demoted`` delete set."""
    docs = read_stage(spark, root, "deduped")
    try:
        man = read_manifest(root, "demoted")
    except OSError:
        return docs
    if man.get("total_rows", 0) == 0:
        return docs
    # file-backed only: an empty data/ dir (no parquet files at all)
    # cannot be scanned; table-backed manifests carry no n_files and
    # an empty table reads fine
    if man.get("format") != "iceberg" and man.get("n_files", 0) == 0:
        return docs
    demoted = read_stage(spark, root, "demoted")
    (id_col,) = demoted.columns
    return docs.join(demoted, on=id_col, how="left_anti")


def fold_demotions(spark: SparkSession, root: str) -> dict:
    """Fold the ``demoted`` delete set into the data files: physically
    rewrite ``deduped`` minus the demoted ids and clear the delete set
    (Iceberg's rewrite-with-equality-deletes; the dedup twin of
    ``plans/kg_absorb.py:fold_retractions``).  ``read_deduped`` content
    is unchanged — the rewrite applies exactly the anti-join the live
    view was doing per read — so the seal keeps the stage's input
    fingerprint; what changes is read amplification.  Naturally
    idempotent and crash-safe: staged swap per subtree, delete-set
    clear LAST.  Later absorbs are unaffected: demotion detection runs
    off the clusters map, not the delete set, and newly demoted ids
    append into the (now empty) ``demoted`` stage as before.

    Works under BOTH stage backends (round 5): under an Iceberg
    session catalog the rewrite and the delete-set clear are staged
    ``createOrReplace`` commits via ``write_stage``, keeping each
    stage's input fingerprint (content-identical maintenance)."""
    ice = iceberg_available(spark)
    import time as _time

    t0 = _time.time()
    try:
        man = read_manifest(root, "demoted")
    except OSError:
        man = None
    if not man or man.get("total_rows", 0) == 0:
        return {"status": "noop_nothing_demoted",
                "sec": round(_time.time() - t0, 2)}
    live_deduped = os.path.join(root, "deduped", "data")
    live_demoted = os.path.join(root, "demoted", "data")
    if not ice:
        _recover_swap(live_deduped)
        _recover_swap(live_demoted)

    demoted = read_stage(spark, root, "demoted")
    (id_col,) = demoted.columns
    n_demoted = demoted.count()
    staging = os.path.join(root, "_staging", "fold_demotions")
    shutil.rmtree(staging, ignore_errors=True)
    fold_metrics = {"fold_demotions": {"ids_folded": n_demoted}}
    run_stage(
        spark, staging, "deduped",
        lambda: read_stage(spark, root, "deduped")
        .join(demoted, id_col, "left_anti"),
        input_fingerprint=f"fold-{n_demoted}",
    )
    empty = local_df(spark, [], f"{id_col} string")
    if ice:
        for stage, df in (
            ("deduped", read_stage(spark, staging, "deduped")),
            ("demoted", empty),  # delete-set clear LAST = commit point
        ):
            m = read_manifest(root, stage)
            write_stage(
                df, root, stage,
                input_fingerprint=m["input_fingerprint"],
                metrics={**(m.get("metrics") or {}), **fold_metrics},
            )
        drop_stage_table(spark, staging, "deduped")
    else:
        _swap_subtree(os.path.join(staging, "deduped", "data"),
                      live_deduped)
        run_stage(spark, staging, "demoted", lambda: empty,
                  input_fingerprint=f"fold-{n_demoted}")
        _swap_subtree(os.path.join(staging, "demoted", "data"),
                      live_demoted)

        for stage in ("deduped", "demoted"):
            m = read_manifest(root, stage)
            commit_stage(
                root, stage, input_fingerprint=m["input_fingerprint"],
                metrics={**(m.get("metrics") or {}), **fold_metrics},
            )
    shutil.rmtree(staging, ignore_errors=True)
    return {"status": "folded", "n_ids_folded": n_demoted,
            "sec": round(_time.time() - t0, 2)}


def dedup_batch_metrics(root: str, batch_fp: str) -> dict | None:
    """The metrics the commit of ``batch_fp`` recorded in the
    ``clusters`` snapshot log (``batch_docs``, ``batch_survivors``,
    ``batch_demoted_base``), or None when the batch is not committed."""
    return next(
        (s["metrics"] for s in snapshot_log(root, "clusters")
         if s.get("metrics", {}).get("batch_fingerprint") == batch_fp),
        None,
    )


def dedup_batch_already_committed(root: str, batch_fp: str) -> bool:
    return dedup_batch_metrics(root, batch_fp) is not None


def init_dedup_root(
    spark: SparkSession,
    root: str,
    doc_schema,
    id_col: str = "url",
    num_hashes: int = 64,
    store_shingles: bool = True,
    input_fingerprint: str = "init",
) -> None:
    """Bootstrap an EMPTY dedup root with the ``jobs/dedup_corpus.py``
    stage layout (empty ``signatures``/``clusters``/``deduped``/
    ``demoted`` snapshots), so the entire corpus can arrive as absorb
    commits — the streaming-ingest entry point
    (``streaming/incremental.py:start_dedup_update_sink``).

    ``doc_schema`` is the document schema (StructType or DDL string)
    the ``deduped`` stage will hold — appended batch files must agree
    with it.  ``store_shingles=True`` (the streaming default) lays the
    store out with the ``sh`` column, which is what lets absorbs verify
    near-dups without any base corpus file to re-read."""
    sig_ddl = f"{id_col} string, sig array<long>" + (
        ", sh array<long>" if store_shingles else ""
    ) + ", digest long"
    for stage, schema in (
        ("signatures", sig_ddl),
        ("clusters", "node string, comp string"),
        ("deduped", doc_schema),
        ("demoted", f"{id_col} string"),
    ):
        write_stage(local_df(spark, [], schema), root, stage,
                    input_fingerprint=input_fingerprint)


def absorb_dedup_batch(
    spark: SparkSession,
    root: str,
    base_input: str | None,
    delta_docs: DataFrame,
    batch_fp: str,
    id_col: str = "url",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 8,
    shingle_k: int = 5,
    shingle_mode: str = "word",
    max_bucket_size: int = 200,
    prefilter_margin: float = 0.1,
    minhash_method: str = "oph",
    portable_minhash: bool = False,
) -> dict:
    """Commit one delta batch into dedup root ``root`` (stage →
    append/swap → seal).

    Verification path depends on the store layout: when the base
    ``signatures`` stage carries the ``sh`` shingle-hash column
    (``dedup_corpus.py --store-shingles`` or ``init_dedup_root``),
    exact Jaccard runs off the STORE alone and ``base_input`` may be
    None — no corpus file is ever re-read, which is what makes the
    streaming sink self-contained.  Otherwise ``base_input`` must name
    the ORIGINAL base corpus parquet (pre-dedup), read only to fetch
    candidate texts (a semi-joined 2-column scan).  Knobs must match
    the base run — the signature width is asserted against the store.

    Works under BOTH stage backends (round 5): file-backed roots
    commit via ``_append_batch_files`` + ``_swap_subtree`` +
    ``commit_stage``; under an Iceberg session catalog the three
    append-grown stages (signatures / deduped / demoted) commit via
    ``sinks.append_stage_iceberg`` and the merged ``clusters``
    relation — a keyed replace, not an append — via
    ``sinks.replace_stage_iceberg`` from the MATERIALIZED staging
    snapshot, sealed LAST as the commit point exactly like the file
    path."""
    ice = iceberg_available(spark)
    t0 = time.time()
    stage_sec: dict[str, float] = {}

    def timed(name, fn):
        s = time.time()
        out = fn()
        stage_sec[name] = round(time.time() - s, 2)
        return out

    tag = hashlib.md5(batch_fp.encode()).hexdigest()[:12]
    live_clusters = os.path.join(root, "clusters", "data")

    def _live_count() -> int:
        n = read_manifest(root, "deduped")["total_rows"]
        try:
            n -= read_manifest(root, "demoted")["total_rows"]
        except OSError:
            pass
        return n

    if dedup_batch_already_committed(root, batch_fp):
        return {
            "status": "noop_already_committed",
            "batch_fingerprint": batch_fp,
            "n_docs_live": _live_count(),
            "sec": round(time.time() - t0, 2),
        }

    if not ice:
        _recover_swap(live_clusters)

    base_sigs = read_stage(spark, root, "signatures")
    has_sh = "sh" in base_sigs.columns
    if has_sh and portable_minhash:
        raise ValueError(
            "the stored-shingle layout is the numpy-kernel path; "
            "--portable-minhash cannot absorb into it"
        )
    if not has_sh and base_input is None:
        raise ValueError(
            "base_input is required unless the root stores shingle "
            "arrays (dedup_corpus --store-shingles / init_dedup_root)"
        )
    width_row = base_sigs.select(F.size("sig").alias("n")).first()
    if width_row is not None and width_row["n"] != num_hashes:
        raise ValueError(
            f"num_hashes={num_hashes} does not match the base root's "
            f"signature width {width_row['n']} — pass the base run's knobs"
        )

    # only never-seen ids join the corpus (id-level idempotence; an
    # in-place page UPDATE needs retraction — rebuild instead)
    new_docs = delta_docs.join(
        base_sigs.select(id_col), on=id_col, how="left_anti"
    )

    staging = os.path.join(root, "_staging", tag)
    sig_fn = minhash_signatures if portable_minhash else minhash_signatures_np
    sig_kwargs = {} if portable_minhash else {
        "method": minhash_method, "with_shingles": has_sh,
    }
    delta_sigs = timed("signatures", lambda: run_stage(
        spark, staging, "signatures",
        lambda: sig_fn(
            new_docs, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, shingle_k=shingle_k,
            shingle_mode=shingle_mode,
            extras={"digest": content_digest(text_col)}, **sig_kwargs,
        ),
        input_fingerprint=batch_fp,
    ))

    exact_edges = timed("exact_edges", lambda: run_stage(
        spark, staging, "exact_edges",
        lambda: incremental_exact_edges(base_sigs, delta_sigs, id_col),
        input_fingerprint=batch_fp,
    ))

    candidates = timed("candidates", lambda: run_stage(
        spark, staging, "candidates",
        lambda: incremental_lsh_pairs(
            base_sigs, delta_sigs, id_col=id_col,
            num_hashes=num_hashes, bands=bands,
            max_bucket_size=max_bucket_size,
        ),
        input_fingerprint=batch_fp,
    ))

    verify_impl = "sql" if portable_minhash else "np"

    def _verified():
        cand = candidates
        if prefilter_margin >= 0:
            cand_ids = (
                cand.select(F.col("id_a").alias(id_col))
                .unionByName(cand.select(F.col("id_b").alias(id_col)))
                .distinct()
            )
            sig_pool = base_sigs.select(id_col, "sig").join(
                cand_ids, id_col, "left_semi"
            ).unionByName(delta_sigs.select(id_col, "sig"))
            cand = signature_jaccard_filter(
                cand, sig_pool, id_col=id_col,
                min_estimate=max(0.0, threshold - prefilter_margin),
            )
        if has_sh:
            # store-only verify: the shingle universe is identical to
            # what ngram_jaccard_pairs(shingle_impl="np") would derive
            # from the text (same kernel), so the jaccard values — and
            # the rebuild equivalence — are unchanged
            sh_pool = base_sigs.select(id_col, "sh").unionByName(
                delta_sigs.select(id_col, "sh")
            )
            return jaccard_from_shingle_arrays(
                cand, sh_pool, threshold=threshold, id_col=id_col
            )
        docs_pool = (
            spark.read.parquet(base_input).select(id_col, text_col)
            .unionByName(new_docs.select(id_col, text_col))
        )
        return ngram_jaccard_pairs(
            docs_pool, cand, id_col=id_col, text_col=text_col,
            shingle_k=shingle_k, threshold=threshold,
            shingle_mode=shingle_mode, shingle_impl=verify_impl,
        )

    verified = timed("verified", lambda: run_stage(
        spark, staging, "verified", _verified,
        input_fingerprint=batch_fp,
    ))

    old_clusters = read_stage(spark, root, "clusters")
    merged = timed("clusters", lambda: run_stage(
        spark, staging, "clusters",
        lambda: merge_components(
            old_clusters,
            exact_edges.unionByName(
                verified.select(
                    F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                )
            ),
        ),
        input_fingerprint=batch_fp,
    ))

    # newly dropped = non-representative in the merged map but not in
    # the old one; split into delta drops vs demoted base survivors
    def _staged_drop_sets():
        newly_dropped = (
            merged.where(F.col("node") != F.col("comp"))
            .select("node")
            .join(
                old_clusters.where(F.col("node") != F.col("comp"))
                .select("node"),
                "node", "left_anti",
            )
        )
        delta_ids = delta_sigs.select(F.col(id_col).alias("node"))
        demoted = run_stage(
            spark, staging, "demoted",
            lambda: newly_dropped.join(delta_ids, "node", "left_anti")
            .select(F.col("node").alias(id_col)),
            input_fingerprint=batch_fp,
        )
        dropped_delta = newly_dropped.join(delta_ids, "node", "left_semi")
        survivors = run_stage(
            spark, staging, "deduped",
            lambda: new_docs.join(
                dropped_delta.select(F.col("node").alias(id_col)),
                id_col, "left_anti",
            ),
            input_fingerprint=batch_fp,
        )
        return demoted, survivors

    timed("drop_sets", _staged_drop_sets)

    n_new = read_manifest(staging, "signatures")["total_rows"]
    n_survivors = read_manifest(staging, "deduped")["total_rows"]
    n_demoted = read_manifest(staging, "demoted")["total_rows"]
    n_exact = read_manifest(staging, "exact_edges")["total_rows"]
    n_candidates = read_manifest(staging, "candidates")["total_rows"]
    n_verified = read_manifest(staging, "verified")["total_rows"]

    def _commit():
        metrics = {
            "batch_fingerprint": batch_fp,
            "batch_docs": n_new,
            "batch_survivors": n_survivors,
            "batch_demoted_base": n_demoted,
        }
        if ice:
            # appends first, clusters replace LAST = commit point
            # (matches the file path's seal order); every commit reads
            # the MATERIALIZED staging snapshot, per-stage idempotent
            for stage in ("signatures", "deduped", "demoted"):
                append_stage_iceberg(
                    read_stage(spark, staging, stage), spark, root,
                    stage, batch_fp, metrics=metrics)
            replace_stage_iceberg(
                read_stage(spark, staging, "clusters"), spark, root,
                "clusters", batch_fp, metrics=metrics)
            for stage in ("signatures", "exact_edges", "candidates",
                          "verified", "clusters", "demoted", "deduped"):
                drop_stage_table(spark, staging, stage)
            shutil.rmtree(staging, ignore_errors=True)
            return
        _append_batch_files(
            os.path.join(staging, "signatures", "data"),
            os.path.join(root, "signatures", "data"), tag)
        _append_batch_files(
            os.path.join(staging, "deduped", "data"),
            os.path.join(root, "deduped", "data"), tag)
        _append_batch_files(
            os.path.join(staging, "demoted", "data"),
            os.path.join(root, "demoted", "data"), tag)
        _swap_subtree(
            os.path.join(staging, "clusters", "data"), live_clusters)

        demoted_schema = read_manifest(staging, "demoted").get("schema")
        for stage, schema in (
            ("signatures", None), ("deduped", None),
            ("demoted", demoted_schema), ("clusters", None),
        ):
            try:
                prev = read_manifest(root, stage)["input_fingerprint"]
            except OSError:
                prev = "bootstrap"
            combined = hashlib.md5(f"{prev}+{batch_fp}".encode()).hexdigest()
            # clusters is sealed last: its snapshot log is the commit point
            commit_stage(root, stage, input_fingerprint=combined,
                         metrics=metrics, schema_json=schema)
        shutil.rmtree(staging, ignore_errors=True)

    timed("commit", _commit)

    return {
        "status": "committed",
        "batch_fingerprint": batch_fp,
        "n_batch_docs": n_new,
        "n_batch_survivors": n_survivors,
        "n_batch_dropped": n_new - n_survivors,
        "n_demoted_base": n_demoted,
        "n_exact_edges": n_exact,
        "n_candidates": n_candidates,
        "n_verified": n_verified,
        "n_docs_live": _live_count(),
        "snapshots": len(snapshot_log(root, "clusters")),
        "sec": round(time.time() - t0, 2),
        "stage_sec": stage_sec,
    }
