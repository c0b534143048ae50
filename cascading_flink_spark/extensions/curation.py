"""End-to-end corpus curation: the flagship composition of the
training-data layer — one declarative flow from raw crawl rows to packed
training chunks.

Stage order (the standard public-pipeline shape, CCNet/Gopher/RefinedWeb
lineage):

1. **clean**: Unicode-light normalization (:func:`..text.clean_text_expr`)
   — map-only, fused into the scan;
2. **quality gates**: Gopher rule conjunction + token blocklist as ONE
   scan filter (:func:`..text.gopher_pass_expr`,
   :func:`..text.blocklist_hits_expr`) — no projection, no join back;
3. **URL dedup**: canonicalize the crawl URL and keep the smallest id per
   canonical URL (one partial-agg shuffle on the canonical key);
4. **near-dup dedup**: MinHash+LSH candidate pairs -> connected
   components -> keep each cluster's minimum-id representative (banded
   equality joins; the output-bound dup-id set anti-joins back);
   optionally followed by the **exact-substring pass** (``dupspan_kwargs``
   opt-in): strip_dup_spans removes every cross-document duplicated
   k-gram span that survives document-level MinHash — the ExactSubstr
   step of Lee et al. 2022;
4.7. **cross-lingual pair mining** (``margin_kwargs`` opt-in):
   margin-based mutual-best mining (Artetxe & Schwenk, the CCMatrix
   recipe) between a pivot-language slice and the rest of the corpus
   over hash-trick embeddings — mined pairs are semantic cross-lingual
   near-duplicates (translations) that document-level MinHash cannot
   see; the pivot-side member keeps its slot, the mined partner drops.
   Candidates come from :func:`..similarity.margin_candidates`'s banded
   default — no cross join;
5. **decontamination**: drop documents sharing a word n-gram with the
   held-out benchmark (benchmark grams broadcast; the corpus never
   shuffles);
5.5. **quality-targeted selection** (``dsir_kwargs`` opt-in): DSIR
   importance resampling (:mod:`..dsir`) keeps the ``keep_n`` surviving
   documents whose hashed-n-gram distribution best matches a supplied
   TARGET corpus — the "select web data that reads like the target"
   pass public pipelines run between cleaning and mixture;
6. **mixture**: temperature-weighted per-language token budgets, admitted
   in deterministic md5 order (mega-key-safe twoscan admission);
7. **split**: leakage-safe group split on the source domain (map-only);
8. **packing**: token offsets + context-window chunk spans in the
   deterministic global order (two-phase distributed cumsum).

Every stage is the already-proven public operator — this module only
composes them, so the pipeline's scale story is the sum of its parts:
zero cartesians, no driver-side loops, shuffles bounded to the URL-dedup
key agg, the banded-join candidate generation, the per-language admission
window, and the packing cumsum.

The full chain is DuckDB-replayable when ``use_md5=True`` (the
correctness-gate spelling); ``use_md5=False`` swaps stage 4's MinHash
signature for the xxhash64 family (the bench/production spelling).  Only
the band rows differ: the candidate join, scoring and dedup above them
are one code path (:func:`.dedup.minhash_lsh_pairs`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .decontam import decontaminate
from .dedup import (_fan_out, _no_push, dedup_clusters, minhash_lsh_pairs,
                    strip_dup_spans)
from .mixture import group_split, temperature_mixture
from .packing import chunk_corpus
from .text import (blocklist_hits_expr, c4_line_keep_expr, clean_text_expr,
                   gopher_pass_expr, token_count)
from .urls import normalize_url_expr


def curate_corpus(docs: DataFrame, benchmark: DataFrame,
                  *,
                  text_col: str = "text", id_col: str = "doc_id",
                  lang_col: str = "lang", group_col: str = "source",
                  url_col: str | None = "url",
                  blocklist_terms: list[str] | None = None,
                  gopher_kwargs: dict | None = None,
                  c4_kwargs: dict | None = None,
                  decontam_n: int = 8,
                  minhash_n: int = 3, num_hashes: int = 32, bands: int = 8,
                  threshold: float = 0.5, use_md5: bool = False,
                  dupspan_kwargs: dict | None = None,
                  margin_kwargs: dict | None = None,
                  dsir_kwargs: dict | None = None,
                  total_budget: int = 8000,
                  test_frac: float = 0.2,
                  context_len: int = 512,
                  return_stages: bool = False):
    """Run the whole curation pipeline; returns one row per surviving
    document: ``(doc_id, lang, source, split, n_tokens, start_offset,
    first_chunk, last_chunk)``.

    ``docs`` must carry ``(id_col, text_col, lang_col, group_col[,
    url_col])``; ``benchmark`` carries ``(id_col, text_col)`` (the
    held-out eval set — its grams broadcast against the corpus).  Set
    ``url_col=None`` to skip URL dedup when no crawl URL exists.

    ``return_stages=True`` returns ``(packed, stages)`` where
    ``stages`` is an ordered dict of each intermediate DataFrame
    (``gated``, ``url_deduped``, ``deduped``, ``despanned`` /
    ``margin_mined`` / ``dsir_selected`` when those opt-in stages are on,
    ``decontaminated``, ``admitted``, ``split``) —
    all LAZY, so auditing costs nothing
    until a stage is counted; ``stages["gated"].count()`` etc. answers
    "which stage dropped my corpus" without re-running the pipeline
    (the dedup/mixture inputs are checkpointed, so stage counts reuse
    the materialized boundaries rather than replaying upstream).
    """
    stages: dict[str, DataFrame] = {}
    # 0. Optional C4 stage (opt-in; line-structured crawls only — the
    # default corpus here is one-line docs where it would be a no-op).
    # MUST precede clean_text, which collapses whitespace runs and
    # would erase the line structure C4 filters on: page gates on the
    # RAW page (lorem ipsum / curly bracket), then per-line retention
    # (:func:`..text.c4_line_keep_expr`).  Fuses into the scan — zero
    # extra shuffles.
    raw = docs
    if c4_kwargs is not None:
        src = F.coalesce(F.col(text_col), F.lit(""))
        if c4_kwargs.get("page_gates", True):
            raw = raw.filter(~F.lower(src).contains("lorem ipsum")
                             & ~src.contains("{"))
        min_line_words = c4_kwargs.get("min_line_words", 3)
        raw = raw.withColumn(
            text_col,
            F.array_join(
                F.filter(F.split(src, "\r?\n"),
                         lambda ln: c4_line_keep_expr(ln, min_line_words)),
                "\n"))
    # 1-2. clean + quality gates, fused into one scan-side filter chain.
    # _fan_out first (round-14, guide §2.5 "input skew"): the clean/gopher
    # regex chain is the pipeline's CPU-heaviest per-row stage, and a
    # locally-small parquet input arrives as ONE scan split — without the
    # repartition the whole chain runs serially in that single task
    # (measured 2x ~1.4s serial passes per flagship at sf0.1).  On a real
    # many-split read _fan_out is a no-op, so nothing is paid at scale.
    # The gate filter must NOT be pushed through that exchange:
    # PushPredicateThroughNonJoin happily sinks it — clean/gopher
    # regexes and all — straight through the round-robin exchange back
    # into the single-task scan stage (measured round 14: a 1.0s 1-task
    # stage re-appearing under the unprotected spelling).  The
    # :func:`.dedup._no_push` predicate barrier keeps it above the
    # exchange without a materialization boundary (each lazy pin still
    # runs its AQE exchange DAG at toRdd time).  An earlier guard was
    # folded away by the optimizer, so the barrier is pinned by
    # ``tests/test_construction_plans.py``.
    fanned = _fan_out(raw)
    cleaned = fanned.withColumn(text_col, clean_text_expr(
        F.coalesce(F.col(text_col), F.lit(""))))
    gate = gopher_pass_expr(F.col(text_col), **(gopher_kwargs or {}))
    if blocklist_terms:
        gate = gate & (blocklist_hits_expr(F.col(text_col),
                                           blocklist_terms) == 0)
    gated = cleaned.filter(_no_push(gate))
    stages["gated"] = gated

    # 3. canonical-URL dedup: keep the smallest id per canonical URL.
    # One partial-agg shuffle on the canonical key; survivors anti-join
    # the (output-bound) dropped-id set.  A NULL or empty URL means "no
    # URL", not "the same URL": such rows get a per-document sentinel
    # key so they are exempt from URL dedup rather than collapsing into
    # one group that keeps a single arbitrary survivor.
    if url_col is not None:
        norm = normalize_url_expr(F.col(url_col))
        keyed = gated.withColumn(
            "__cu",
            F.when(norm.isNull() | (norm == ""),
                   F.concat(F.lit("\x00nourl\x00"),
                            F.col(id_col).cast("string")))
             .otherwise(norm))
        # Pin BEFORE the double reference (round-14): the min-id aggregate
        # and the survivor join both read `keyed`, and without a
        # materialization boundary each side re-executes the clean/gate
        # regex chain (measured as two ~1.4s serial map stages per
        # flagship).  The keep-side aggregate stays a broadcastable
        # partial agg, so the corpus is still never shuffled here.
        keyed = keyed.localCheckpoint(eager=False)
        keep = (keyed.groupBy("__cu")
                     .agg(F.min(id_col).alias("__keep_id")))
        gated = (keyed.join(keep, "__cu")
                      .filter(F.col(id_col) == F.col("__keep_id"))
                      .drop("__cu", "__keep_id"))
    stages["url_deduped"] = gated

    # 4. near-dup dedup: banded MinHash candidates -> connected
    # components -> drop every non-representative member.  Checkpoint the
    # gated corpus first: the pair generation references it three times
    # (band keys + both sides of the signature-agreement join) and the
    # survivor anti-join a fourth — without a materialization boundary
    # each reference replays the regex-heavy clean/gate/URL chain, and
    # because analysis walks the LOGICAL plan, a plain persist still
    # leaves every downstream transformation re-analyzing the whole
    # expression tree (measured: driver-side analysis, not execution,
    # dominated the composed pipeline).  localCheckpoint truncates the
    # plan to a flat scan of the materialized corpus; lazy, though the
    # URL-dedup shuffle stages above run here.  At cluster scale this is
    # the boundary a real pipeline would write to durable storage
    # (swap for reliable checkpoint/parquet there — localCheckpoint is
    # executor-local and not fault-tolerant).
    gated = gated.localCheckpoint(eager=False)
    pairs = minhash_lsh_pairs(gated, n=minhash_n, num_hashes=num_hashes,
                              bands=bands, threshold=threshold,
                              text_col=text_col, id_col=id_col,
                              use_md5=use_md5)
    # below the driver cutoff the clusters carry a broadcast hint, so
    # the anti-join broadcasts the dup-id set and the corpus stays put
    dup_ids = (dedup_clusters(pairs)
               .filter(F.col("id") != F.col("cluster_id"))
               .select(F.col("id").alias(id_col)))
    deduped = gated.join(dup_ids, id_col, "left_anti")
    stages["deduped"] = deduped

    # 4.5. Optional exact-substring pass (opt-in, like the C4 stage):
    # the ExactSubstr step public pipelines run AFTER fuzzy dedup (Lee
    # et al., "Deduplicating Training Data Makes Language Models
    # Better") — whole-document near-dups are already gone, this strips
    # the duplicated SPANS (boilerplate, licence blocks, quoted chunks)
    # that survive document-level MinHash.  The smallest-id owner keeps
    # each span; other docs drop those tokens and docs falling under
    # ``min_tokens_kept`` drop entirely.  Same banded/bounded contract
    # as the rest of the dedup family: md5 gram keys, partial-agg doc
    # frequency, one doc-id join back onto the corpus.
    if dupspan_kwargs is not None:
        stripped = strip_dup_spans(
            deduped, k=dupspan_kwargs.get("k", 8),
            min_docs=dupspan_kwargs.get("min_docs", 2),
            text_col=text_col, id_col=id_col)
        min_kept = dupspan_kwargs.get("min_tokens_kept", 1)
        deduped = (deduped.drop(text_col)
                   .join(stripped
                         .filter(F.col("n_tokens_kept") >= min_kept)
                         .select(id_col,
                                 F.col("clean_text").alias(text_col)),
                         id_col))
        stages["despanned"] = deduped

    # 4.7. Optional cross-lingual pair-mining dedup (opt-in): mine
    # mutual-best ratio-margin pairs between the pivot-language slice
    # (side_a) and the rest over dim-long hash-trick embeddings
    # (hash_embed — zero-shuffle featurizer), candidates from the banded
    # md5-Rademacher default (no cross join), then drop each mined
    # pair's NON-pivot member: a high-margin mutual-best pair is a
    # translation/semantic dup that spends mixture budget twice.
    # Zero-norm embeddings (text that hashes to nothing) are excluded
    # from mining IN the plan — cosine would be 0/0 on either engine.
    if margin_kwargs is not None:
        from .similarity import _dot, hash_embed, margin_mine
        side_col = margin_kwargs.get("side_col", lang_col)
        side_a = margin_kwargs["side_a"]
        side_b = margin_kwargs.get("side_b")
        mdim = margin_kwargs.get("dim", 16)
        cond_a = F.col(side_col) == side_a
        cond_b = (F.col(side_col) == side_b) if side_b is not None \
            else (F.col(side_col) != side_a)
        deduped = deduped.localCheckpoint(eager=False)

        def _emb(side_df):
            e = hash_embed(side_df, dim=mdim, text_col=text_col,
                           id_col=id_col,
                           seed=margin_kwargs.get("seed", "he0"))
            ecol = F.col("emb").cast("array<double>")
            return (e.filter(_dot(ecol, ecol) > 0)
                     .select(F.col(id_col), F.col("emb")))

        mined = margin_mine(
            _emb(deduped.filter(cond_a)), _emb(deduped.filter(cond_b)),
            k=margin_kwargs.get("k", 4),
            threshold_x1e4=margin_kwargs.get("threshold_x1e4", 10500),
            id_col=id_col, vec_col="emb", dim=mdim,
            planes=margin_kwargs.get("planes", 8),
            tables=margin_kwargs.get("tables", 4))
        drop = mined.select(F.col("id_b").alias(id_col))
        # the mined-pair set is DATA-bounded (pivot-slice size), not
        # parameter-bounded like the DSIR keep set below — no broadcast
        # hint; AQE picks the join for whatever a high-dup bilingual
        # corpus actually mines
        deduped = deduped.join(drop, id_col, "left_anti")
        stages["margin_mined"] = deduped

    # 5. decontamination: benchmark grams broadcast, corpus unshuffled.
    # _fan_out the (tiny, but single-split) benchmark side too: its
    # clean + n-gram transform otherwise runs as one serial task inside
    # the broadcast build (measured ~0.4s of the boundary's wall at
    # sf0.1); a no-op whenever the benchmark is already multi-split.
    decon = decontaminate(deduped, _fan_out(benchmark), n=decontam_n,
                          text_col=text_col, id_col=id_col)
    stages["decontaminated"] = decon

    # 5.5. Optional DSIR quality-targeted selection (opt-in): keep the
    # keep_n survivors whose hashed-n-gram distribution best matches
    # dsir_kwargs["target"] (a (id, text) frame, pre-cleaned to the
    # pipeline's text form).  Selection is a TakeOrderedAndProject over
    # integer-exact weights; the keep_n-row id set broadcasts back —
    # the corpus side never shuffles for this stage beyond the
    # (doc, bucket) scoring partials.
    if dsir_kwargs is not None:
        from .dsir import dsir_select
        keep = dsir_select(
            decon, dsir_kwargs["target"],
            n=dsir_kwargs.get("keep_n", 1000),
            buckets=dsir_kwargs.get("buckets", 4096),
            ngrams=dsir_kwargs.get("ngrams", 2),
            alpha=dsir_kwargs.get("alpha", 1),
            seed=dsir_kwargs.get("seed", "dsir"),
            text_col=text_col, id_col=id_col).select(id_col)
        decon = decon.join(F.broadcast(keep), id_col)
        stages["dsir_selected"] = decon

    # 6. temperature mixture on whitespace token counts.  Second
    # materialization boundary (same argument as stage 4): the mixture's
    # totals + admission branches and the packing cumsum all re-reference
    # the curated corpus, and the decontamination gram-explosion sits in
    # its plan — truncate here so the five downstream references scan the
    # materialized frame.
    counted = (decon.withColumn(
        "n_tokens", token_count(F.col(text_col)).cast("long"))
        .localCheckpoint(eager=False))
    admitted = temperature_mixture(counted, total_budget,
                                   lang_col=lang_col, id_col=id_col,
                                   strategy="twoscan")
    stages["admitted"] = admitted

    # 7-8. leakage-safe split by source group, then sequence packing
    split = group_split(admitted, group_col, test_frac=test_frac)
    stages["split"] = split
    packed = chunk_corpus(split, context_len, text_col=text_col,
                          id_col=id_col,
                          carry_cols=[lang_col, group_col, "split"])
    return (packed, stages) if return_stages else packed
