"""Misc scalar ops: tag parsing, map pruning, color math, string splits.

P2, P13, P15, P19, P27, P28 from SURVEY.md §2.2 — all pure Column exprs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def map_prune_empty(m: Column) -> Column:
    """P2: drop entries whose value is null/''/empty — reference
    `base_provider.py:40` prunes ``None/""/[]/{}`` from feature dicts."""
    return F.map_filter(m, lambda k, v: v.isNotNull() & (v != "") & (v != "[]") & (v != "{}"))


def hstore_parse(col: Column, lower_values: bool = True) -> Column:
    """P13: ``'"a"=>"b","c"=>"d"'`` → map<string,string>.

    Reference `process_pois.py:167-183` strips quotes, splits on ``","`` then
    ``=>``, lowercases values for classification.
    """
    stripped = F.regexp_replace(col, '"', "")
    m = F.str_to_map(stripped, F.lit(","), F.lit("=>"))
    m = F.transform_keys(m, lambda k, _: F.trim(k))
    if lower_values:
        return F.transform_values(m, lambda _, v: F.lower(F.trim(v)))
    return F.transform_values(m, lambda _, v: F.trim(v))


def name_rescue(*candidates: Column, generic_label: Column | None = None) -> Column:
    """P15 coalesce cascade: first non-null, non-empty candidate wins;
    final fallback is the generic label (reference process_pois.py:315-341)."""
    cleaned = [F.when((c.isNotNull()) & (F.trim(c) != ""), F.trim(c)) for c in candidates]
    if generic_label is not None:
        cleaned.append(generic_label)
    return F.coalesce(*cleaned)


def case_contains(col: Column, rules: Sequence[tuple[str, int]], default: int) -> Column:
    """P19 property-type CASE: first substring match wins
    (reference loader_v2.py:181-185: 'lote'→3, 'apartamento'→2, else 1)."""
    lowered = F.lower(col)
    expr = F.lit(default)
    for needle, value in reversed(rules):
        expr = F.when(F.instr(lowered, needle) > 0, F.lit(value)).otherwise(expr)
    return expr


def luma_text_color(hex_color: Column) -> Column:
    """P27: WCAG-ish luma 0.2126R+0.7152G+0.0722B on a ``#rrggbb`` string;
    < 128 ⇒ white text else near-black (reference BRAND_CONFIG/utils.py:1-25)."""
    r = F.conv(F.substring(hex_color, 2, 2), 16, 10).cast("double")
    g = F.conv(F.substring(hex_color, 4, 2), 16, 10).cast("double")
    b = F.conv(F.substring(hex_color, 6, 2), 16, 10).cast("double")
    luma = 0.2126 * r + 0.7152 * g + 0.0722 * b
    return F.when(luma < 128, F.lit("#FFFFFF")).otherwise(F.lit("#111111"))


def split_latlng(col: Column) -> tuple[Column, Column]:
    """P28: ``"lat,lng"`` string → (lat, lng) doubles; ``"0"``/empty → null
    (reference houzez_provider.py:92-98, wp_residence_provider.py:85-88)."""
    parts = F.split(col, ",")
    # F.get (0-based) returns null past the end — element_at would raise
    # under ANSI mode when the string has no comma
    lat = F.trim(F.get(parts, 0)).try_cast("double")
    lng = F.trim(F.get(parts, 1)).try_cast("double")
    zeroish = lambda c: F.when((c == 0.0), F.lit(None).cast("double")).otherwise(c)  # noqa: E731
    return zeroish(lat), zeroish(lng)


def sorted_pair_structs(ids: Column, a: str = "a", b: str = "b") -> Column:
    """All unordered pairs of a DISTINCT-element array as structs with
    ``a`` < ``b``: sort the array once, then pair each element only with
    strictly-later ones via the index-based transform — n(n-1)/2 structs
    emitted instead of materializing all n² and filtering (guide §1.2
    step 2, per-task work), with a deterministic emit order under task
    retry. Requires distinct elements (a<b ⇔ strictly-after in sorted
    order only then); the call site (shingle groups in
    ngram_jaccard_pairs) dedupes upstream. Measured note: the same
    rewrite applied to basket_pair_affinity's basket self-join was a
    wash in a single-session A/B at sf0.1 (collect_list's aggregate
    cost ≈ the join savings at ~4-item baskets), so that operator
    keeps its join form."""
    s = F.array_sort(ids)
    return F.flatten(
        F.transform(
            s,
            lambda x, i: F.transform(
                F.slice(s, i + F.lit(2), F.size(s)),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
