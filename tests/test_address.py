"""Address normalization + matching semantics (reference match_addresses.R)."""

from __future__ import annotations

from name_matching_spark.operators.address import (
    code_addresses,
    match_addresses,
    normalize_addresses,
)


def _coded(spark, rows):
    df = spark.createDataFrame(rows, ["name", "address"])
    return {
        r["address"]: r["coded_address"]
        for r in normalize_addresses(df).collect()
    }


def test_po_box_parse(spark):
    got = _coded(
        spark,
        [
            ("A", "PO Box 123, Midland, TX 79701"),
            ("B", "P.O. BOX 99, HOUSTON, TX 77001"),
            ("C", "DRAWER 55, ODESSA, TX 79760"),
        ],
    )
    assert got["PO BOX 123, MIDLAND, TX 79701"] == "123 MIDLAND TX 79701"
    assert got["P.O. BOX 99, HOUSTON, TX 77001"] == "99 HOUSTON TX 77001"
    assert got["DRAWER 55, ODESSA, TX 79760"] == "55 ODESSA TX 79760"


def test_po_box_without_number_dropped(spark):
    got = _coded(spark, [("A", "PO DRAWER V, MIDLAND TX")])
    assert got == {}


def test_po_box_no_city_gets_na(spark):
    # R paste() renders missing parts as the literal NA
    got = _coded(spark, [("A", "PO BOX 42")])
    assert got["PO BOX 42"] == "42 NA NA"


def test_non_po_scrub_and_outlier_filters(spark):
    got = _coded(
        spark,
        [
            ("A", "123 Main St, Midland, TX"),
            ("B", "#123* Ma+in St"),        # junk chars removed
            ("C", "-55 Oak Ave"),            # leading dash → dropped
            ("D", "77 Elm St N/A"),          # N/A → dropped
            ("E", "12 Pecan, , TX"),         # ', ,' → dropped
            ("F", "WHERE? 12"),              # '?' → dropped
        ],
    )
    assert got["123 MAIN ST, MIDLAND, TX"] == "123 MAIN ST, MIDLAND, TX"
    assert got["#123* MA+IN ST"] == "123 MAIN ST"
    assert len(got) == 2


def test_match_addresses_pairs_and_single_name_drop(spark):
    df = spark.createDataFrame(
        [
            ("ACME OIL", "500 Energy Plaza, Houston, TX"),
            ("ACME OIL CO", "500 ENERGY PLAZA, HOUSTON, TX"),
            ("ACME OPERATING", "500 energy plaza, houston, tx"),
            ("LONER LLC", "1 Lonely Ln, Odessa, TX"),
        ],
        ["name", "address"],
    )
    rows = match_addresses(df).collect()
    pairs = {(r["name"], r["match"]) for r in rows}
    assert pairs == {
        ("ACME OIL", "ACME OIL CO"),
        ("ACME OIL", "ACME OPERATING"),
        ("ACME OIL CO", "ACME OPERATING"),
    }
    assert all(r["address"] == "500 ENERGY PLAZA, HOUSTON, TX" for r in rows)



def test_match_addresses_one_row_per_pair(spark):
    # a pair sharing two coded addresses is one row, with the smaller
    # address, whatever order the rows arrive in
    rows = [
        ("ACME OIL", "9 Zeta Rd"),
        ("ACME OIL CO", "9 ZETA RD"),
        ("ACME OIL", "1 Alpha St"),
        ("ACME OIL CO", "1 ALPHA ST"),
    ]
    for order in (rows, rows[::-1]):
        df = spark.createDataFrame(order, ["name", "address"]).repartition(3)
        got = [tuple(r) for r in match_addresses(df).collect()]
        assert got == [("ACME OIL", "ACME OIL CO", "1 ALPHA ST")]

def test_code_addresses_cache_wins(spark):
    df = spark.createDataFrame(
        [("A", "123 Main St"), ("B", "9 New Rd")], ["name", "address"]
    )
    cache = spark.createDataFrame(
        [("123 MAIN ST", "CACHED FORM")], ["address", "coded_address"]
    )
    got = {r["address"]: r["coded_address"] for r in code_addresses(df, cache).collect()}
    assert got["123 MAIN ST"] == "CACHED FORM"
    assert got["9 NEW RD"] == "9 NEW RD"
