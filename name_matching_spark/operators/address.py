"""Address normalization + exact-address matching.

Reimplements code/functions/match_addresses.R as pure DataFrame ops. The
reference geocodes non-PO-box addresses through the Google API
(match_addresses.R:37-46) — an external service, replaced here by a
deterministic canonicalizer (the scrubbed/squished address string itself),
with the same cache contract: addresses already present in the
``coded_cache`` table are skipped and reused (left_anti + union, replacing
the incremental CSV backup at :151-175).

Semantics preserved:
- PO-box parse (:76-108): 15-variant detector; po number, city (text after
  the first comma, digits/dashes stripped), zip (first digit run after the
  comma); rows without a po number dropped; coded = "{po} {city} {zip}"
  (R paste renders missing parts as the literal "NA" — reproduced).
- non-PO scrub (:118-145): junk chars removed; rows starting with
  space/comma/dash/paren or containing N/A, ", ,", standalone NA, or "?"
  dropped.
- matching (:180-233): group by coded address; all C(n,2) canonical pairs
  within a group emitted (an address with a single distinct name yields
  none), one row per pair: the smallest coded address the two share.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import PO_NUM_REGEX, PO_REGEX


def _squish(col):
    return F.trim(F.regexp_replace(col, " +", " "))


def normalize_addresses(df: DataFrame, addr_col: str = "address") -> DataFrame:
    """Add ``coded_address`` to (name, address) rows; un-codable rows are
    dropped (mirrors the reference's filters)."""
    df = (
        df.where(F.col(addr_col).isNotNull() & (F.col(addr_col) != ""))
        .withColumn(addr_col, _squish(F.upper(F.col(addr_col))))
    )
    is_po = F.col(addr_col).rlike(PO_REGEX)

    po = df.where(is_po).withColumn("_a", F.regexp_replace(addr_col, "#", ""))
    po = (
        po.withColumn("_city_raw", F.regexp_extract("_a", ",(.*)", 0))
        .withColumn("_city", F.regexp_replace("_city_raw", ",", ""))
        .withColumn("_zip", F.regexp_extract("_city", "\\d+", 0))
        .withColumn("_city", _squish(F.regexp_replace("_city", "[\\d-]+", "")))
        .withColumn("_po_match", F.regexp_extract("_a", PO_NUM_REGEX, 0))
        .withColumn("_po", F.regexp_extract("_po_match", "\\d+", 0))
        .where(F.col("_po") != "")
        .withColumn(
            "coded_address",
            F.concat_ws(
                " ",
                F.col("_po"),
                F.when(F.col("_city") == "", "NA").otherwise(F.col("_city")),
                F.when(F.col("_zip") == "", "NA").otherwise(F.col("_zip")),
            ),
        )
        .select("name", addr_col, "coded_address")
    )

    non_po = df.where(~is_po)
    for bad_start in (" ", ",", "-", "("):
        non_po = non_po.where(F.substring(addr_col, 1, 1) != bad_start)
    non_po = non_po.withColumn(
        "_a", _squish(F.translate(F.col(addr_col), "%*+£&#@=\"`[]", ""))
    )
    non_po = (
        non_po.where(~F.col("_a").contains("N/A"))
        .where(~F.col("_a").contains(", ,"))
        .where(~F.col("_a").rlike("\\bNA\\b"))
        .where(~F.col("_a").contains("?"))
    )
    # deterministic "geocoder": canonical form is the scrubbed address itself
    non_po = non_po.select(
        "name", addr_col, F.col("_a").alias("coded_address")
    )
    return po.unionByName(non_po)


def code_addresses(
    df: DataFrame,
    coded_cache: DataFrame | None = None,
    addr_col: str = "address",
) -> DataFrame:
    """(address, coded_address) for every distinct input address, honoring a
    prior cache (cache rows win; only new addresses are computed — the Spark
    analogue of the geocode backup CSV at match_addresses.R:151-175)."""
    normalized = normalize_addresses(df, addr_col).select(addr_col, "coded_address").distinct()
    if coded_cache is None:
        return normalized
    fresh = normalized.join(coded_cache.select(addr_col), addr_col, "left_anti")
    return coded_cache.select(addr_col, "coded_address").unionByName(fresh)


def match_addresses(
    df: DataFrame,
    coded_cache: DataFrame | None = None,
    addr_col: str = "address",
) -> DataFrame:
    """(name, match, address) canonical pairs of names sharing a coded
    address (match_addresses.R:180-233). ``address`` carries the coded form."""
    coded = normalize_addresses(df, addr_col)
    if coded_cache is not None:
        cache = coded_cache.withColumnsRenamed({"coded_address": "_cached"})
        coded = (
            coded.join(cache, addr_col, "left")
            .withColumn("coded_address", F.coalesce("_cached", "coded_address"))
            .drop("_cached")
        )
    # one self-join; name < match is already canonical, and a pair sharing
    # several coded addresses keeps the smallest one
    named = coded.select("name", "coded_address").distinct()
    return (
        named.join(named.withColumnRenamed("name", "match"), "coded_address")
        .where(F.col("name") < F.col("match"))
        .groupBy("name", "match")
        .agg(F.min("coded_address").alias("address"))
    )
