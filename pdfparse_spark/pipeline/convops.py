"""Conversation-level dedup over transcript tables — the whole-session
complement to the engine's payload- and document-level dedup tiers.

Agent-transcript corpora (the input_hint table: conv_id, turn_idx, role,
text, tool, ts) duplicate at the CONVERSATION grain in two distinct
ways that per-turn / per-payload dedup cannot see:

- **exact duplicates** — the same session logged twice (re-ingested
  shard, at-least-once delivery): every (turn_idx, role, text) matches.
- **prefix duplicates** — a session retried or resumed from a checkpoint:
  the abandoned attempt is a strict turn-prefix of the completed one.
  Training on both double-weights the shared prefix.

Both reduce a conversation to a constant-width *turn-hash chain* so the
fat text column never crosses a conversation-level shuffle:

    th_i    = md5(role_i \\x1f text_i)           (per turn, map-side;
                                                 NULL role/text ≡ '')
    chain_k = md5(chain_{k-1} || th_k)           (left fold over turn order)

``chain_n`` fingerprints the whole conversation; ``chain_k`` fingerprints
its k-turn prefix.  Chain equality is an md5-collision-safe-in-practice
proxy for turn-sequence equality (the same convention as the engine's
content-addressed extraction cache).

Scale shape (10^12 turns): the per-turn hash is map-side; the only
conversation-level shuffle moves 32-char hashes keyed by conv_id (never
text).  Exact dedup aggregates on the 1-value-per-conv chain tail.
Prefix detection joins each conversation's full-chain row against every
conversation's exploded prefix chain — O(total turns) narrow rows — on
the FUSED salted key ``h:salt`` (the span-family lesson: separate
(h, salt) join keys let EnsureRequirements co-partition on h alone and
silently undo the salt), so a templated prefix shared by millions of
sessions spreads across ``_CONV_SALT`` reducers instead of one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .artifact import local_checkpoint, release_rdds

__all__ = [
    "conv_chains",
    "conv_dedup_exact",
    "conv_prefix_dedup",
    "conv_dedup_filter",
]

# replication factor for the 1-row-per-(hash,len) full-chain side of the
# prefix join; a hot templated prefix fans across this many reducers
_CONV_SALT = 16


def conv_chains(transcripts: DataFrame) -> DataFrame:
    """(conv_id, n_turns, chain: array<string>) — the cumulative md5
    turn-hash chain per conversation, turns ordered by turn_idx.

    One narrow shuffle: turns are hashed to 32 chars map-side, grouped by
    conv_id, sorted in-array (array_sort on (turn_idx, th) structs — no
    per-group window), and folded JVM-side.  NULL role/text hash as
    empty strings — coalesced BEFORE the \\x1f join, because concat_ws
    would silently drop a NULL operand and its separator, making
    (role='u', text=NULL) collide with (role='u', text='') only by
    accident and breaking the reproducible-outside-Spark convention.
    The fold carries only the chain array and reads the running hash
    back from its own tail, so each md5 is computed exactly once per
    turn; ArrayAggregate itself is interpreted (CodegenFallback, no CSE
    — which is exactly why the double-md5 formulation must be avoided),
    while the per-turn hash projection stays in whole-stage codegen."""
    th = transcripts.select(
        "conv_id",
        "turn_idx",
        F.md5(
            F.concat_ws(
                "\x1f",
                F.coalesce(F.col("role"), F.lit("")),
                F.coalesce(F.col("text"), F.lit("")),
            )
        ).alias("th"),
    )
    per_conv = th.groupBy("conv_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(turn_idx, th))), "
            "s -> s.th)"
        ).alias("ths")
    )
    chain = F.expr(
        "aggregate(ths, CAST(array() AS array<string>), "
        "(acc, t) -> concat(acc, array(md5(concat("
        "CASE WHEN size(acc) = 0 THEN '' ELSE element_at(acc, size(acc)) END, "
        "t)))))"
    )
    return per_conv.select(
        "conv_id", F.size("ths").alias("n_turns"), chain.alias("chain")
    )


def conv_dedup_exact(
    transcripts: DataFrame, chains: DataFrame | None = None
) -> DataFrame:
    """One row per conversation: (conv_id, n_turns, conv_key, keep,
    canonical_id, n_copies).  ``keep`` marks the lexicographically first
    conv_id of each identical-turn-sequence group — deterministic under
    any partitioning, so a re-run keeps the same representative.

    Plan: conv_chains' narrow shuffle, then a min/count aggregate on the
    32-char conv_key and a key-equality join of two skinny frames —
    map-side-combinable end to end; with few distinct keys the groups
    side is tiny and AQE broadcasts it.  ``chains`` optionally supplies a
    caller-checkpointed :func:`conv_chains` frame so a pipeline running
    BOTH grains hashes the fat text once (the tokenize-once pattern)."""
    if chains is None:
        chains = conv_chains(transcripts)
    keyed = chains.select(
        "conv_id", "n_turns", F.element_at("chain", -1).alias("conv_key")
    )
    groups = keyed.groupBy("conv_key").agg(
        F.min("conv_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
    )
    return keyed.join(groups, "conv_key").select(
        "conv_id",
        "n_turns",
        "conv_key",
        (F.col("conv_id") == F.col("canonical_id")).alias("keep"),
        "canonical_id",
        "n_copies",
    )


def conv_prefix_dedup(
    transcripts: DataFrame, chains: DataFrame | None = None
) -> DataFrame:
    """One row per conversation: (conv_id, n_turns, is_prefix,
    n_containers, keep).  ``is_prefix`` marks conversations whose full
    turn sequence is a STRICT prefix of some other conversation (the
    abandoned attempt of a retried session); ``keep`` is its negation —
    the completed attempt survives, and exact duplicates are deliberately
    NOT flagged here (that is :func:`conv_dedup_exact`'s verdict; the two
    compose by intersecting keeps).

    Join shape — aggregate BEFORE pairing, so a mega-retried template
    (R abandoned copies × R' completions of the same session) costs
    O(R + R') rows, never R×R' pairs: the container side explodes each
    conversation's strict-prefix chain entries (O(total turns) narrow
    rows) and hash-aggregates them per chain VALUE — map-side combinable,
    so a prefix shared by millions of sessions reduces to one
    (value, n_containers) row before any join.  The per-conversation
    full-chain side then probes that ≤1-row-per-key table on the FUSED
    salted key ``h:salt`` (the ≤1-row side replicated ``_CONV_SALT``
    ways), so R identical full chains spread across ``_CONV_SALT``
    reducers instead of one.  A chain value's position is implied by its
    content, but ``p_len = k`` is still enforced as collision armor.
    ``chains`` shares a caller-checkpointed :func:`conv_chains` frame
    (see :func:`conv_dedup_exact`)."""
    if chains is None:
        chains = conv_chains(transcripts)
    full = chains.select(
        "conv_id",
        "n_turns",
        F.element_at("chain", -1).alias("h"),
    )
    pref_agg = (
        chains.select(
            F.col("conv_id").alias("c_conv"),
            F.posexplode(
                F.expr("slice(chain, 1, greatest(size(chain) - 1, 0))")
            ).alias("pos0", "ph"),
        )
        .groupBy("ph", (F.col("pos0") + 1).alias("k"))
        .agg(F.countDistinct("c_conv").alias("n_containers"))
    )
    pref_salted = pref_agg.select(
        "k",
        "n_containers",
        F.explode(F.sequence(F.lit(0), F.lit(_CONV_SALT - 1))).alias("salt"),
        "ph",
    ).select(
        "k", "n_containers", F.concat_ws(":", "ph", "salt").alias("hs")
    )
    probe = full.select(
        "conv_id",
        "n_turns",
        F.concat_ws(
            ":", F.col("h"), F.pmod(F.hash("conv_id"), F.lit(_CONV_SALT))
        ).alias("hs"),
    )
    return (
        probe.join(pref_salted, "hs", "left")
        .select(
            "conv_id",
            "n_turns",
            F.when(F.col("n_turns") == F.col("k"), F.col("n_containers")).alias(
                "nc"
            ),
        )
        .select(
            "conv_id",
            "n_turns",
            F.col("nc").isNotNull().alias("is_prefix"),
            F.coalesce("nc", F.lit(0)).alias("n_containers"),
            F.col("nc").isNull().alias("keep"),
        )
    )


def conv_dedup_filter(df: DataFrame) -> tuple[DataFrame, dict]:
    """Both grains composed into a pre-extraction filter: returns
    (transcripts with duplicate conversations removed, stats).  The keep
    rule is conv_dedup_exact ∧ conv_prefix_dedup — one canonical copy of
    every re-ingested session survives and abandoned retry prefixes go.

    The fat text never shuffles for the filter: verdicts come off the
    narrow chains frame, and the transcript side is LEFT-ANTI joined
    against the DROP set only — on a real corpus drops are a small
    fraction, so AQE broadcasts them and the filter is map-side; if a
    pathological corpus ever makes the drop set huge, the fallback is a
    conv_id shuffle of keys the extraction stage was about to shuffle
    anyway.  The chains checkpoint is released before returning; only
    the drop-set checkpoint rides on with the returned frame — the
    caller's session teardown (or a post-run RDD-diff release) frees it."""
    ch, ch_ids = local_checkpoint(conv_chains(df))
    n_convs = ch.count()
    drop = (
        conv_dedup_exact(df, chains=ch)
        .select("conv_id", F.col("keep").alias("keep_exact"))
        .join(
            conv_prefix_dedup(df, chains=ch).select(
                "conv_id", F.col("keep").alias("keep_prefix")
            ),
            "conv_id",
        )
        .filter(~(F.col("keep_exact") & F.col("keep_prefix")))
        .select("conv_id")
        .localCheckpoint(eager=True)
    )
    n_dropped = drop.count()
    release_rdds(df.sparkSession, ch_ids)
    return (
        df.join(drop, "conv_id", "left_anti"),
        {"n_convs": n_convs, "n_convs_dropped": n_dropped},
    )
