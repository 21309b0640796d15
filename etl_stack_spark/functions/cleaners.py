"""Value cleaners — exact reference semantics as native Column exprs.

Reference: `src/ETL_PROPERTIES/loader_v2.py:16-70` (clean_price,
clean_area, clean_smallint, clean_numeric_small) and `:131` (title).
These are business semantics, not bugs — reproduced faithfully:
  * ``,`` → ``.`` then strip everything but ``[0-9.]``;
  * many dots ⇒ all but the last are thousands separators;
  * price: unparseable/overflow(>1e13) ⇒ 0; currency normalized to
    3-char upper ∈ {USD, CRC} else USD; price > 1e6 ⇒ CRC heuristic;
  * area: null outside (0, 9 999 999.99];
  * smallint: first integer run of digits, null above cap;
  * numeric_small: scrubbed float, null above cap.

Scale note: all pure codegen exprs — zero shuffle, zero Python; they run
inside the scan's WholeStageCodegen stage at 100 TB just like at 6k rows.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _scrub(col: Column) -> Column:
    """``str(val).strip().replace(',', '.')`` then drop non-``[0-9.]``."""
    s = F.regexp_replace(F.trim(col.cast("string")), ",", ".")
    return F.regexp_replace(s, r"[^0-9.]", "")


def _collapse_dots(s: Column) -> Column:
    """Keep only the LAST dot as the decimal point (others = thousands)."""
    parts = F.split(s, r"\.", -1)
    n = F.size(parts)
    joined = F.concat(
        F.array_join(F.slice(parts, 1, n - 1), ""), F.lit("."), F.element_at(parts, -1)
    )
    return F.when(n > 2, joined).otherwise(s)


def price_number(val: Column) -> Column:
    """The scrubbed price with extra dots collapsed, as a double (NULL
    when unparseable): the number ``clean_price`` classifies."""
    return _collapse_dots(_scrub(val)).try_cast("double")


def scrubbed_number(val: Column) -> Column:
    """The scrubbed value as a double (NULL when unparseable): the number
    ``clean_area`` and ``clean_numeric_small`` classify."""
    return _scrub(val).try_cast("double")


def first_int(val: Column) -> Column:
    """The first digit run as an int: the number ``clean_smallint``
    classifies."""
    return F.regexp_extract(val.cast("string"), r"(\d+)", 1).try_cast("int")


# Each cleaner below references its parsed number several times across
# CASE branches, and Catalyst does not share a subexpression that is
# only conditionally evaluated, so the regexp scrub can run several times
# per row. A caller that projects the number once, in its own select,
# passes that column as ``num`` (plans.ingest.clean_and_hash does).


def clean_price(
    val: Column, currency_raw: Column, num: Column | None = None
) -> tuple[Column, Column]:
    """Returns (price, currency) columns. Reference loader_v2.py:16-39.
    ``num``: ``price_number(val)``, already projected."""
    if num is None:
        num = price_number(val)
    # Python falsiness on the string inputs this operates on: None or ""
    falsy = val.isNull() | (val.cast("string") == "")
    parse_fail = num.isNull()
    overflow = num > 9999999999999.99

    cur_norm = F.upper(F.substring(F.trim(currency_raw.cast("string")), 1, 3))
    cur_valid = F.when(
        currency_raw.isNull() | (cur_norm == ""), F.lit("USD")
    ).otherwise(F.when(cur_norm.isin("USD", "CRC"), cur_norm).otherwise(F.lit("USD")))

    price = (
        F.when(falsy, F.lit(0.0))
        .when(parse_fail | overflow, F.lit(0.0))
        .otherwise(num)
    )
    currency = (
        F.when(falsy, currency_raw.cast("string"))  # falsy input passes currency through raw
        .when(parse_fail | overflow, F.lit("USD"))
        .when(num > 1000000, F.lit("CRC"))  # the reference's CRC heuristic
        .otherwise(cur_valid)
    )
    return price, currency


def clean_area(val: Column, num: Column | None = None) -> Column:
    """Scrubbed float, null outside (0, 9 999 999.99]. loader_v2.py:41-50.
    ``num``: ``scrubbed_number(val)``, already projected."""
    if num is None:
        num = scrubbed_number(val)
    falsy = val.isNull() | (val.cast("string") == "")
    return F.when(falsy | num.isNull() | (num <= 0) | (num > 9999999.99), F.lit(None).cast("double")).otherwise(num)


def clean_smallint(val: Column, max_limit: int = 30000, num: Column | None = None) -> Column:
    """First digit-run as int, null if absent or > cap. loader_v2.py:52-60.
    ``num``: ``first_int(val)``, already projected."""
    if num is None:
        num = first_int(val)
    falsy = val.isNull() | (val.cast("string") == "")
    return F.when(falsy | num.isNull() | (num > max_limit), F.lit(None).cast("int")).otherwise(num)


def clean_numeric_small(val: Column, max_limit: float = 99.9, num: Column | None = None) -> Column:
    """Scrubbed float, null above cap. loader_v2.py:62-70.
    ``num``: ``scrubbed_number(val)``, already projected."""
    # NB: unlike clean_price, the reference does NOT collapse extra dots here
    # (float('1.2.3') just raises → None)
    if num is None:
        num = scrubbed_number(val)
    falsy = val.isNull() | (F.trim(val.cast("string")) == "")
    return F.when(falsy | num.isNull() | (num > max_limit), F.lit(None).cast("double")).otherwise(num)


def title_truncate(title: Column, default: str = "Sin Título", width: int = 250) -> Column:
    """``(title or default)[:width]`` — loader_v2.py:131 (P8)."""
    base = F.when(title.isNull() | (title == ""), F.lit(default)).otherwise(title)
    return F.substring(base, 1, width)
