"""End-to-end training-set export: the composition the individual
analytics operators exist for.

Two near-duplicate policies decide what the split key means:

- ``near_dups="drop"`` (default): the funnel removes near-dups
  (connected-component resolution, one survivor per cluster). The
  survivors are pairwise non-duplicate by construction, so there is
  nothing left to leak across the split boundary and the split keys
  on the document id.
- ``near_dups="confine"``: near-dups are RETAINED (more training
  tokens) but the split keys on the near-dup COMPONENT id, so a whole
  cluster always lands on one side — no eval document has a near-dup
  in train. This is where cluster-keyed splitting actually earns its
  name; with dedup on it would degenerate to a doc-id split (the
  survivor set has no pairs).

Then: greedy sequence packing per (split, packing shard) and one
``partitionBy(split)`` parquet write — partition-local, no extra
shuffle. The packing shard defaults to the language column so the
sequential scan parallelizes across (split × lang) groups; pass
``pack_shard_col`` to shard finer (e.g. a date or bucket column) at
real scale.
"""

from __future__ import annotations

from typing import Dict, Mapping, Optional

from pyspark.sql import DataFrame, functions as F

from .components import connected_components
from .curate import CurationResult, curate
from .dedup import minhash_lsh_pairs
from .packing import pack_greedy
from .splits import hash_split

__all__ = ["export_training_set"]


def export_training_set(
    docs: DataFrame,
    out_dir: str,
    fractions: Optional[Mapping[str, float]] = None,
    budget: int = 2048,
    near_dups: str = "drop",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    tokens_col: str = "n_tokens",
    min_quality: float = 0.65,
    near_dup_jaccard: float = 0.12,
    minhash_hashes: int = 16,
    minhash_bands: int = 4,
    pack_shard_col: Optional[str] = None,
    **curate_kwargs,
) -> Dict[str, int]:
    """Run the funnel, split leak-free, pack, and write
    ``out_dir/split=<name>/``. Returns per-split row counts.

    Extra keyword arguments go to :func:`curate` (gates, langs, …);
    the near-dup policy is controlled here via ``near_dups``, not
    through curate's own knobs."""
    fractions = dict(fractions or
                     {"train": 0.9, "val": 0.05, "test": 0.05})
    for k in ("near_dup_resolution", "with_metrics"):
        if k in curate_kwargs:
            raise ValueError(
                f"{k} is managed by export_training_set (near_dups="
                f"{near_dups!r}); pass near_dups/near_dup_jaccard "
                "instead")
    if near_dups not in ("drop", "confine"):
        raise ValueError(
            f"near_dups must be 'drop' or 'confine': {near_dups!r}")

    common = dict(id_col=id_col, text_col=text_col, lang_col=lang_col,
                  min_quality=min_quality, with_metrics=False,
                  minhash_hashes=minhash_hashes,
                  minhash_bands=minhash_bands, **curate_kwargs)
    cached = None
    if near_dups == "drop":
        res: CurationResult = curate(
            docs, near_dup_jaccard=near_dup_jaccard,
            near_dup_resolution="components", **common)
        # survivors are pairwise non-dup — the split key IS the doc
        # id (no synthetic cluster column; it would just duplicate it)
        kept = res.kept
        split_key = id_col
    else:
        res = curate(docs, near_dup_jaccard=None, **common)
        # confine mode drives SEVERAL actions over the funnel output
        # (the CC checkpoints + the write) — persist it, and keep the
        # reference so the final unpersist hits the cached frame, not
        # a rebound join. Drop mode has exactly one downstream action
        # (the write), so caching there would buy nothing.
        cached = kept = res.kept.persist()
        # label near-dup clusters over the RETAINED docs with the
        # same MinHash parameters the funnel would use
        pairs = minhash_lsh_pairs(
            kept, id_col=id_col, text_col=text_col,
            num_hashes=minhash_hashes, bands=minhash_bands,
            threshold=near_dup_jaccard)
        labeled = connected_components(
            pairs, nodes=kept.select(id_col), id_col=id_col,
            comp_col="__cluster")
        kept = kept.join(labeled, id_col)
        split_key = "__cluster"

    split = hash_split(kept, split_key, fractions)

    if tokens_col not in split.columns:
        from .textstats import token_count
        split = split.withColumn(
            tokens_col, token_count(F.col(text_col)).cast("bigint"))
    shard = pack_shard_col or lang_col
    split = split.withColumn(
        "pack_shard", F.concat_ws("|", F.col("split"), F.col(shard)))
    # bin ids are unique per pack_shard (kept in the output — a
    # sequence is addressed by (pack_shard, bin))
    packed = pack_greedy(split, budget=budget, tokens_col=tokens_col,
                         order_col=id_col, shard_col="pack_shard")

    # Count per split by observing the write action itself — the split
    # names are the `fractions` keys, so a fixed set of conditional
    # counts rides the one write job. No read-back scan of the output.
    from pyspark.sql import Observation
    obs = Observation("export_split_counts")
    packed = packed.observe(
        obs, *[F.count(F.when(F.col("split") == k, 1)).alias(k)
               for k in fractions])
    packed.write.mode("overwrite").partitionBy("split") \
        .parquet(out_dir)
    if cached is not None:
        cached.unpersist()
    # match the old read-back semantics: empty splits are omitted
    return {k: int(v) for k, v in obs.get.items() if v}
