"""Deterministic synthetic transcript generator (BASELINE.json input_hint).

Emits the exact input shape ``(conv_id string, turn_idx int32, role string,
text string, tool string, ts timestamp)``. Everything derives from the row
id via pure column expressions — no RNG, no driver-side loops, no UDFs —
so the table is reproducible at any scale and generation itself is
whole-stage-codegen'd.

Skew is built in on purpose (north rule: skew handled explicitly): a small
set of "hot" conversations receives a constant fraction of all turns, giving
a heavy-tailed conversation-size distribution to exercise salting/AQE.

Exact-duplicate conversations are ALSO planted on purpose (see REPLAY_*):
a fixed fraction of uniform conversations are byte-exact replays of earlier
ones, so conversation-level dedup has non-vacuous results at every scale
factor, including the sf0.001 drift-gate scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# fixture-bearing sentence templates; %s slots are filled from FORMULAS /
# VALUES below. Drawn from the reference test corpus shapes (SURVEY.md §5).
# every template has exactly two %s slots; the slot kinds per template are
# listed in TEMPLATE_SLOTS ("F" formula, "V" value, "D" digit)
TEMPLATES = [
    "The material %s superconducts at %sK.",
    "The Tc of the %s is %sK.",
    "%s with x = 0.%s shows bulk superconductivity.",
    "We synthesized underdoped %s single crystals near %s K.",
    "T c = %s.2 K was found for %s at 140 GPa.",
    "The %s sample was annealed and quenched into powders batch %s.",
    "The %s phase crystallizes in space group %s at ambient pressure.",
    "In the best cases %s K and 2%s K were measured for MgB 2 and NbB 2 , "
    "respectively.",
    "The AlB2-type structure with P6/mmm symmetry was confirmed for %s "
    "at %s K.",
    "Values %sK higher than 77K are rejected here for %s.",
    "Ba 1−x K x BiO 3−δ shows T c of %s K under doping x = 0.%s.",
    "tool output: {\"status\": \"ok\", \"rows\": %s, \"table\": \"%s\"}",
    "The critical temperature T C = %s.1 K discovered for %s in this work "
    "is notable.",
    "Diffraction confirms a %s arrangement with %s symmetry in this batch.",
    "The resistivity measurement shows T c = %s K for the %s sample.",
    # PII-bearing turn (email + phone): gives the PII-scrub operator
    # real signal at every scale, like the planted replays give dedup
    "Contact the sample curator at lab%s@example.com or +1-555-010%s "
    "for batch requests.",
]

TEMPLATE_SLOTS = ["FV", "FV", "FD", "FV", "VF", "FV", "CG",
                  "VD", "FV", "VF", "VD", "VF", "VF", "CG", "VF", "DV"]

# structure-dictionary surface forms (all present in the full gazetteer;
# mixed case/spacing variants to exercise the trie's case folding and
# multi-token paths)
CRYSTAL_STRUCTURES = [
    "NaCl-type", "GdFeO3-type", "MgAl2O4-type", "CaTiO3-type",
    "NaCl - type", "mgcu2-type", "perovskite-related CaTiO3-type",
]
SPACE_GROUPS = [
    "P6/mmm", "Fm-3m", "P4/nmm", "Ia-3d", "P42/mmc", "I4/mcm",
    "R-3c", "pm-3m", "cubic", "tetragonal",
]

FORMULAS = [
    "MgB 2", "LaFeBO7", "CsFe2As2", "La Fe B 8-x", "CaBr2-x",
    "NbB 2", "CuFrO2", "Te2U1", "La 3 Ir 2 Ge 2", "(Mo 0.96 Zr 0.04 ) 0.85 B 2",
]

ROLES = ["user", "assistant", "tool"]
TOOLS = ["search", "python", "browser", "sql"]

N_HOT_CONVS = 4          # hot conversations (skew tail)
HOT_FRACTION_PCT = 12    # % of all turns landing in hot conversations
TURNS_PER_CONV = 24      # nominal conversation size for the uniform mass

# Planted EXACT-duplicate conversations (canned sessions / replayed
# demos): every REPLAY_EVERY-th uniform conversation is a byte-exact
# replay of the conversation REPLAY_SHIFT earlier — its turns derive
# their content from `id - REPLAY_ID_DELTA` instead of `id`. The delta
# must be a multiple of TURNS_PER_CONV (conversation boundaries align)
# AND of 100 (the `id % 100` hot mask aligns, so the replay
# conversation's id set is exactly the source's shifted by the delta:
# same turn count, same order, same rendered lines). Timestamps stay
# id-derived — replays happen later — but transcript fingerprints read
# only (turn_idx, role, text), so conversation_dedup finds these at
# EVERY scale (the r4 gap: sf0.001 had no duplicates at all).
REPLAY_EVERY = 50
REPLAY_SHIFT = 25
REPLAY_ID_DELTA = TURNS_PER_CONV * REPLAY_SHIFT   # 600: %24==0, %100==0
assert REPLAY_ID_DELTA % 100 == 0


def generate_turns(spark: SparkSession, n_turns: int,
                   partitions: int = 32) -> DataFrame:
    """Build the turns DataFrame; one deterministic row per id."""
    df = spark.range(0, n_turns, 1, partitions)

    # --- conversation assignment with explicit skew
    uniform_conv = (F.col("id") / TURNS_PER_CONV).cast("long")
    hot_conv = F.pmod(F.col("id"), F.lit(N_HOT_CONVS))
    is_hot = F.pmod(F.col("id"), F.lit(100)) < F.lit(HOT_FRACTION_PCT)
    conv_num = F.when(is_hot, hot_conv).otherwise(
        F.lit(N_HOT_CONVS) + uniform_conv)
    df = df.withColumn(
        "conv_id",
        F.concat(F.lit("conv-"), F.lpad(conv_num.cast("string"), 8, "0")),
    )

    # dense 0-based turn_idx per conversation (generation-time shuffle only;
    # the extraction hot path never re-groups by conv_id)
    window = Window.partitionBy("conv_id").orderBy("id")
    df = df.withColumn(
        "turn_idx", (F.row_number().over(window) - F.lit(1)).cast("int"))

    # replay conversations draw CONTENT from the source conversation's
    # ids (see REPLAY_* above); everything below reads content_id, so a
    # replay turn renders byte-identically to its source turn
    is_replay = (~is_hot) & (
        F.pmod(uniform_conv, F.lit(REPLAY_EVERY)) == F.lit(REPLAY_SHIFT))
    content_id = F.when(is_replay, F.col("id") - F.lit(REPLAY_ID_DELTA)) \
        .otherwise(F.col("id"))

    role = F.element_at(
        F.array(*[F.lit(r) for r in ROLES]),
        (F.pmod(content_id, F.lit(len(ROLES))) + 1).cast("int"),
    )
    tool = F.when(
        role == "tool",
        F.element_at(
            F.array(*[F.lit(t) for t in TOOLS]),
            (F.pmod(content_id, F.lit(len(TOOLS))) + 1).cast("int"),
        ),
    )

    formula = F.element_at(
        F.array(*[F.lit(f) for f in FORMULAS]),
        (F.pmod(content_id / 7, F.lit(len(FORMULAS))).cast("int") + 1),
    )
    value = (F.pmod(content_id * 7, F.lit(90)) + 3).cast("string")
    digit = F.pmod(content_id, F.lit(9)).cast("string")
    crystal = F.element_at(
        F.array(*[F.lit(c) for c in CRYSTAL_STRUCTURES]),
        (F.pmod(content_id / 3, F.lit(len(CRYSTAL_STRUCTURES))).cast("int")
         + 1),
    )
    space_group = F.element_at(
        F.array(*[F.lit(g) for g in SPACE_GROUPS]),
        (F.pmod(content_id / 5, F.lit(len(SPACE_GROUPS))).cast("int") + 1),
    )

    template_id = F.pmod(content_id, F.lit(len(TEMPLATES)))
    kinds = {"F": formula, "V": value, "D": digit,
             "C": crystal, "G": space_group}
    text = None
    for tid, template in enumerate(TEMPLATES):
        a, b = (kinds[c] for c in TEMPLATE_SLOTS[tid])
        rendered = F.format_string(template, a, b)
        condition = template_id == tid
        text = (F.when(condition, rendered) if text is None
                else text.when(condition, rendered))

    df = (
        df.withColumn("role", role)
        .withColumn("text", text)
        .withColumn("tool", tool)
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("id")))
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            "ts",
        )
    )
    return df
