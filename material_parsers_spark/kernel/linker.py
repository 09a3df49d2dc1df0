"""Link-type names (J9, SURVEY.md §2.7).

Re-expresses `linking/linking_module.py:317-331`: the canonical type of a
link from its unordered (source, destination) span-type pair. The link
stage itself is `turns.link_paragraph`.
"""

from __future__ import annotations

MATERIAL_TC_TYPE = "<material-tcValue>"
TC_PRESSURE_TYPE = "<tcValue-pressure>"
TC_ME_METHOD_TYPE = "<tcValue-me_method>"
MATERIAL_SPACE_GROUPS = "<material-space_groups>"
MATERIAL_CRYSTAL_STRUCTURE = "<material-crystal_structure>"

LINK_TYPE_PAIRS = {
    frozenset(("<material>", "<tcValue>")): MATERIAL_TC_TYPE,
    frozenset(("<pressure>", "<tcValue>")): TC_PRESSURE_TYPE,
    frozenset(("<me_method>", "<tcValue>")): TC_ME_METHOD_TYPE,
    frozenset(("<material>", "<space-groups>")): MATERIAL_SPACE_GROUPS,
    frozenset(("<material>", "<crystal-structure>")): MATERIAL_CRYSTAL_STRUCTURE,
}


def get_link_type(type1: str, type2: str) -> str:
    """Canonical link type from an unordered type pair (J9); raises on an
    unknown pair like the reference (`linking_module.py:317-331`)."""
    link_type = LINK_TYPE_PAIRS.get(frozenset((type1, type2)))
    if link_type is None:
        raise ValueError(f"The provided types are invalid. {type1}, {type2}")
    return link_type

