"""Blocking stage: signatures → block keys → deduped candidate pairs.

The reference's candidate generator is an O(n·m) nested loop emitting a
pair iff both coordinates are within ±0.0002° (``load_data/
label_data.py:53-62``) — a spatial *blocking predicate*. Our engine keeps
the same role (bound the quadratic pair space before scoring) but keys on
text, per the north rule: **salted token/prefix keys + MinHash-LSH band
keys**, expressed so the pair generation is a plain equi-self-join that
Catalyst executes as a shuffled hash join with AQE skew splitting.

Scale design (10^12 turns → ~10^11 conversations):

* Multiple independent key families (first-token, token-prefix, MinHash
  bands) give recall redundancy, so any single oversized family block can
  be bounded without losing planted duplicates.
* **Skew**: block sizes follow a Zipf-like token distribution; a hot
  first-token block of size B contributes B² pairs. ``salt_oversized``
  splits every block larger than ``max_block_size`` into
  ``ceil(B / max_block_size)`` salted sub-blocks via a deterministic hash
  of the member id — expected candidate count per salted sub-block is
  bounded by ``max_block_size²`` no matter how hot the key (hash salting
  bounds sub-block size in expectation, not adversarially: the pinned
  test allows 2× skew slack, so provision for small-constant× the bound,
  not exactly it). Cross-salt pairs inside a
  hot block are intentionally sacrificed (stop-token blocks are
  low-information); MinHash bands still pair true duplicates because their
  keys hash the *whole* token set, not one hot token.
* Pair dedup across key families is one ``dropDuplicates`` on the ordered
  (left_id, right_id) key — the reference's "already labeled" anti-join
  (``label_data.py:63-69``) generalized.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.spark_udfs import make_minhash_udf


@dataclass(frozen=True)
class BlockingConfig:
    prefix_len: int = 5          # chars of the 2-token prefix key
    num_hashes: int = 64         # MinHash signature length
    bands: int = 16              # LSH bands (rows = num_hashes // bands)
    minhash_seed: int = 42
    max_block_size: int = 200    # salt blocks above this many members
    use_first_token: bool = True
    use_prefix: bool = True
    use_minhash: bool = True
    use_second_token: bool = False  # extra `t1:` family (recall study knob)

    def __post_init__(self) -> None:
        if self.use_minhash and (
            self.bands <= 0
            or self.num_hashes <= 0
            or self.num_hashes % self.bands != 0
        ):
            # bands > num_hashes would make rows_per_band 0: every band
            # key degenerates to hash of the empty slice — a CONSTANT —
            # and LSH collapses to salted all-pairs with zero
            # selectivity; a non-divisible split silently discards the
            # trailing hashes, quietly weakening the recall contract
            raise ValueError(
                f"num_hashes ({self.num_hashes}) must be a positive "
                f"multiple of bands ({self.bands}); rows_per_band = "
                "num_hashes // bands must be >= 1 and exact"
            )
        if not (
            self.use_first_token
            or self.use_prefix
            or self.use_minhash
            or self.use_second_token
        ):
            raise ValueError(
                "at least one blocking key family must be enabled "
                "(use_first_token / use_prefix / use_minhash / "
                "use_second_token)"
            )


def block_keys(signatures: DataFrame, cfg: BlockingConfig = BlockingConfig()) -> DataFrame:
    """blocks(conv_id, block_key) — union of the enabled key families.

    Families (each a narrow projection, no shuffle):
      * ``t0:<first normalized token>`` — analog of the reference's
        coarse spatial cell.
      * ``px:<prefix of first two tokens>`` — catches first-token typos.
      * ``mh<i>:<band hash>`` — MinHash-LSH: jaccard-similar token sets
        collide in ≥1 band with high probability.
    """
    parts: list[DataFrame] = []
    nonempty = signatures.filter(F.size("tokens") > 0)
    if cfg.use_first_token:
        parts.append(
            nonempty.select(
                "conv_id",
                F.concat(F.lit("t0:"), F.element_at("tokens", 1)).alias("block_key"),
            )
        )
    if cfg.use_second_token:
        # `t1:` family: block on the SECOND normalized token. Recovers
        # pairs whose first token was corrupted (typo/insertion) at the
        # cost of one more key per signature — quantified against the
        # default families in SCALE.md's recall-vs-pair-budget study.
        parts.append(
            nonempty.filter(F.size("tokens") > 1).select(
                "conv_id",
                F.concat(F.lit("t1:"), F.element_at("tokens", 2)).alias("block_key"),
            )
        )
    if cfg.use_prefix:
        two = F.concat_ws("", F.slice("tokens", 1, 2))
        parts.append(
            nonempty.select(
                "conv_id",
                F.concat(
                    F.lit("px:"), F.substring(two, 1, cfg.prefix_len)
                ).alias("block_key"),
            )
        )
    if cfg.use_minhash:
        rows_per_band = cfg.num_hashes // cfg.bands
        minhash = make_minhash_udf(cfg.num_hashes, cfg.minhash_seed)
        with_sig = nonempty.select("conv_id", minhash(F.col("tokens")).alias("mh"))
        band_keys = F.array(
            *[
                F.concat(
                    F.lit(f"mh{i}:"),
                    F.xxhash64(F.slice("mh", i * rows_per_band + 1, rows_per_band)),
                )
                for i in range(cfg.bands)
            ]
        )
        parts.append(
            with_sig.select("conv_id", F.explode(band_keys).alias("block_key"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def oversized_blocks(
    blocks: DataFrame, max_block_size: int | None
) -> tuple[int, pa.Table]:
    """``(largest block size, over-cap blocks)`` from ONE block-size
    aggregation: the over-cap blocks come back to the driver as an Arrow
    table ``(block_key, n_salt)`` with ``n_salt = ceil(size /
    max_block_size)``, and the largest size is observed while that
    aggregation runs. A falsy ``max_block_size`` disables salting: the
    table is empty and the aggregation only measures the largest size."""
    sizes = blocks.groupBy("block_key").agg(F.count("*").alias("block_size"))
    cap = int(max_block_size or 0)
    if not cap:
        largest = sizes.agg(F.max("block_size")).first()[0]
        none = pa.table(
            {"block_key": pa.array([], pa.string()), "n_salt": pa.array([], pa.int32())}
        )
        return int(largest or 0), none
    obs = Observation()
    largest = F.coalesce(F.max("block_size"), F.lit(0)).alias("largest")
    n_salt = F.ceil(F.col("block_size") / cap).cast("int").alias("n_salt")
    hot = (
        sizes.observe(obs, largest)
        .filter(F.col("block_size") > cap)
        .select("block_key", n_salt)
        .toArrow()
    )
    return int(obs.get["largest"]), hot


def salt_oversized(
    blocks: DataFrame, max_block_size: int | None, hot: pa.Table | None = None
) -> DataFrame:
    """Split blocks larger than ``max_block_size`` into deterministic
    salted sub-blocks: ``block_key#<salt>`` with ``salt =
    xxhash64(conv_id) mod ceil(size / max_block_size)``. Normal blocks
    pass through unchanged (salt suffix omitted). ``hot`` is the
    over-cap table of :func:`oversized_blocks` (computed here when not
    given); with no over-cap block, ``blocks`` is returned as is — no
    join at all — else one broadcast left join against the (tiny)
    over-cap table salts the hot members. All columns are preserved."""
    if hot is None:
        _, hot = oversized_blocks(blocks, max_block_size)
    if hot.num_rows == 0:
        return blocks
    out_cols = list(blocks.columns)
    # from an Arrow table, not a Python list: a list goes through a
    # Python-worker job, which starts a second worker daemon
    n_salt = F.broadcast(blocks.sparkSession.createDataFrame(hot))
    return (
        blocks.join(n_salt, "block_key", "left")
        .withColumn(
            "block_key",
            F.when(F.col("n_salt").isNull(), F.col("block_key")).otherwise(
                F.concat(
                    F.col("block_key"),
                    F.lit("#"),
                    F.pmod(F.xxhash64("conv_id"), F.col("n_salt")),
                )
            ),
        )
        .select(*out_cols)
    )


def candidate_pairs(
    blocks: DataFrame,
    cfg: BlockingConfig = BlockingConfig(),
    materialize: str = "local_checkpoint",
    hot: pa.Table | None = None,
) -> DataFrame:
    """candidate_pairs(left_id, right_id) — equi-self-join on block_key,
    ordered pair key, deduped across key families.

    ``hot``: the over-cap table of :func:`oversized_blocks` when the
    caller already ran that aggregation (the batch pipeline does, to
    record the largest block size); otherwise salting runs it.

    Two shuffles total: the self-join on ``block_key`` (AQE skew-split
    eligible) and the ``dropDuplicates`` on the pair key. The salting
    bound keeps any single join partition from exploding quadratically.

    ``materialize`` — how to avoid recomputing the block relation for
    salting's two references (size scan, salting join), which matters
    when ``blocks`` is a raw ``block_keys`` plan whose MinHash UDF would
    otherwise run per reference:

    * ``"local_checkpoint"`` (default): fastest (raw row blocks, no
      columnar encode/decode — measured ~2× faster than persist at
      bench scale), but the blocks live only in executor storage and
      CANNOT be recomputed — on a cluster, an executor lost between
      materialization and the self-join fails the stage permanently.
    * ``"persist"``: MEMORY_AND_DISK cache, recomputable on executor
      loss — the fault-tolerant choice for long-running cluster stages.
    * ``"none"``: no materialization — CORRECT choice when ``blocks``
      is already checkpoint-backed (parquet): re-scanning the file is
      cheap, recomputable, and skips a pointless extra copy. The batch
      pipeline passes this.

    Spark offers no safe point inside this function to release either
    materialization (the returned pairs plan still reads it lazily), so
    both handles are exposed on the result as ``_materialized_blocks``:
    a long-running driver calling this repeatedly with ``"persist"``
    should ``pairs._materialized_blocks.unpersist()`` after consuming
    the pairs, or executor storage accumulates one cached block
    relation per call.
    """
    if materialize not in ("local_checkpoint", "persist", "none"):
        # validated unconditionally — a typo'd mode must fail loudly
        # even when salting (the only consumer) is disabled, not let the
        # caller believe their chosen fault-tolerance mode is in effect
        raise ValueError(
            f"materialize must be 'local_checkpoint', 'persist' or "
            f"'none', got {materialize!r}"
        )
    materialized = None
    if cfg.max_block_size:
        if materialize == "local_checkpoint":
            blocks = materialized = blocks.localCheckpoint(eager=True)
        elif materialize == "persist":
            from pyspark import StorageLevel

            blocks = materialized = blocks.persist(StorageLevel.MEMORY_AND_DISK)
        blocks = salt_oversized(blocks, cfg.max_block_size, hot)
    left = blocks.alias("l")
    right = blocks.alias("r")
    pairs = (
        left.join(right, "block_key")
        .filter(F.col("l.conv_id") < F.col("r.conv_id"))
        .select(
            F.col("l.conv_id").alias("left_id"),
            F.col("r.conv_id").alias("right_id"),
        )
        .dropDuplicates(["left_id", "right_id"])
    )
    pairs._materialized_blocks = materialized  # release handle (docstring)
    return pairs
