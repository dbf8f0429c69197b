"""match_names: the channel rules of the one candidate pass, its plan shape,
and its family flags under cap-and-split."""

import itertools
import math

import pytest
from pyspark.sql import functions as F

from name_matching_spark.functions import strings as S
from name_matching_spark.pipeline import candidate_families, match_names

# hand-made universe; the comments give the key families each pair shares
UNIVERSE = [
    "QWX,VBN KLM",          # sw: QWXVBN with the next name, no tok: key
    "QWXVBN PLO",
    "ACME,ZORB",            # tok: ZORB with the next two, sw: none
    "ZORB",
    "ZORB PLIM GRUX TWEF",  # sw:/tok:/ft: ZORB with "ZORB"
    "blue quagmire",        # sw:/tok:/ft: BLUE, clean Jaro far
    "BLUE XYLOPHONIC",
    "Kronvald",             # no shared word; Jaro families on one typo
    "KRONVALT",
    "Susan Scott",          # ln: SCOTT only (SCOTT is a common word)
    "Karen Scott",
]
# prepare_names' cleaned bags (commas split, common words dropped)
CLEAN_BAGS = {
    "QWX,VBN KLM": ["QWX", "VBN", "KLM"],
    "QWXVBN PLO": ["QWXVBN", "PLO"],
    "ACME,ZORB": ["ACME", "ZORB"],
    "ZORB": ["ZORB"],
    "ZORB PLIM GRUX TWEF": ["ZORB", "PLIM", "GRUX", "TWEF"],
    "blue quagmire": ["BLUE", "QUAGMIRE"],
    "BLUE XYLOPHONIC": ["BLUE", "XYLOPHONIC"],
    "Kronvald": ["KRONVALD"],
    "KRONVALT": ["KRONVALT"],
    "Susan Scott": ["SUSAN"],
    "Karen Scott": ["KAREN"],
}


def _cosine(a, b):
    # text2vec-parity tf-idf: w = count · log1p(N/df), cosine over shared tokens
    n = len(CLEAN_BAGS)
    df = {}
    for bag in CLEAN_BAGS.values():
        for t in set(bag):
            df[t] = df.get(t, 0) + 1
    w = {
        k: {t: bag.count(t) * math.log1p(n / df[t]) for t in set(bag)}
        for k, bag in CLEAN_BAGS.items()
    }
    dot = sum(w[a][t] * w[b][t] for t in set(w[a]) & set(w[b]))
    return dot / math.sqrt(sum(x * x for x in w[a].values())) / math.sqrt(
        sum(x * x for x in w[b].values())
    )


def _jaro(a, b):
    return float(S.jaro_distance([a], [b])[0])


def test_channel_rules(spark):
    names = spark.createDataFrame([(n,) for n in UNIVERSE], "name string")
    rows = {
        (r["name"], r["match"]): r
        for r in match_names(names).master.collect()
    }
    none = (None, None, None)
    expected = {
        # found only by sw:: one shared word, no shared token, raw-name Jaro
        ("QWX,VBN KLM", "QWXVBN PLO"): (1, 0.0, _jaro("QWX,VBN KLM", "QWXVBN PLO"), none),
        # comma-joined: a tok: key but no sw: key, kept at cosine ≥ 0.4
        # (shared_words then come from the raw bags, here none)
        ("ACME,ZORB", "ZORB"): (0, _cosine("ACME,ZORB", "ZORB"),
                                _jaro("ACME,ZORB", "ZORB"), none),
        ("ZORB", "ZORB PLIM GRUX TWEF"): (
            1, _cosine("ZORB", "ZORB PLIM GRUX TWEF"),
            _jaro("ZORB", "ZORB PLIM GRUX TWEF"), none),
        # a Jaro-family pair above the threshold, kept by sw:, with
        # raw-name Jaro
        ("BLUE XYLOPHONIC", "blue quagmire"): (
            1, _cosine("BLUE XYLOPHONIC", "blue quagmire"),
            _jaro("BLUE XYLOPHONIC", "blue quagmire"), none),
        # kept by the Jaro rule: clean-name Jaro
        ("KRONVALT", "Kronvald"): (0, 0.0, _jaro("KRONVALT", "KRONVALD"), none),
        # ln:-only: shared_words over the bags that keep common words,
        # raw-name Jaro, the human scores of the first names
        ("Karen Scott", "Susan Scott"): (
            1, 0.0, _jaro("Karen Scott", "Susan Scott"),
            (_jaro("KAREN", "SUSAN"),
             1.0 - float(S.qgram_cosine_distance(["KAREN"], ["SUSAN"], q=1)[0]),
             False)),
    }
    # the tok:-only pair below the threshold is not kept
    assert _cosine("ACME,ZORB", "ZORB PLIM GRUX TWEF") < 0.4
    assert _cosine("ACME,ZORB", "ZORB") >= 0.4
    # the clean names of the sw:-kept Jaro-family pair are too far apart
    assert _jaro("BLUE XYLOPHONIC", "BLUE QUAGMIRE") > 0.15
    assert _jaro("BLUE XYLOPHONIC", "BLUE QUAGMIRE") != expected[
        ("BLUE XYLOPHONIC", "blue quagmire")][2]

    assert set(rows) == set(expected)
    for pair, (sw, cos, jw, (hjw, hcos, init)) in expected.items():
        r = rows[pair]
        assert r["shared_words"] == sw, pair
        assert r["cosine_similarity"] == pytest.approx(cos, abs=1e-12), pair
        assert r["jw_distance"] == pytest.approx(jw, abs=1e-12), pair
        assert r["human_jw_distance"] == (
            None if hjw is None else pytest.approx(hjw, abs=1e-12)), pair
        assert r["human_cosine_similarity"] == (
            None if hcos is None else pytest.approx(hcos, abs=1e-12)), pair
        assert r["initials_match"] is init, pair


def _join_nodes(plan: str):
    """(keys, condition) of every join in a formatted physical plan."""
    import re

    out = []
    for m in re.finditer(r"^\(\d+\) \w*Join\w*.*?(?=^\(\d+\) |\Z)", plan, re.S | re.M):
        body = m.group(0)
        keys = re.findall(r"^(?:Left|Right) keys \[\d+\]: \[(.*?)\]$", body, re.M)
        cond = re.search(r"^Join condition: (.*)$", body, re.M)
        out.append((tuple(keys), cond.group(1) if cond else "None"))
    return out


def test_one_candidate_self_join(spark):
    # every SQL execution match_names runs, checkpoints included: the only
    # pair-generating join (an equi-join with a pair-order condition on
    # top) is pairs_from_index's task_key self-join, run once; no join on
    # a token or a last name generates pairs anywhere else
    import re

    names = spark.createDataFrame([(n,) for n in UNIVERSE], "name string")
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    match_names(names).master.collect()
    execs = store.executionsList()
    joins = set()
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() >= first:
            # the AQE description lists the final and the initial plan:
            # one join appears in both with the same attribute ids
            joins |= set(_join_nodes(e.physicalPlanDescription()))

    def bare(keys):
        return {re.sub(r"#\d+L?", "", k) for k in keys}

    pair_joins = [(k, c) for k, c in joins if c != "None"]
    task_key_joins = [k for k, _ in joins if bare(k) == {"task_key"}]
    assert len(task_key_joins) == 1, task_key_joins
    assert [bare(k) for k, _ in pair_joins] == [{"task_key"}], pair_joins
    assert not [k for k, _ in joins if bare(k) & {"last_name", "_id"}]


def test_family_flags_under_cap_and_split(spark):
    # a family-tagged index where one tok: block and one ln: block exceed
    # the cap: the split yields the same pairs, flags and sw: counts as an
    # uncapped self-join
    hot_tok = [(f"t{i:02d}", "tok:HOT") for i in range(13)]
    hot_ln = [(f"h{i:02d}", "ln:SMITH") for i in range(9)] + [("t03", "ln:SMITH")]
    small = [
        ("t01", "sw:A"), ("t02", "sw:A"), ("t01", "sw:B"), ("t02", "sw:B"),
        ("t01", "ft:X"), ("h01", "ft:X"), ("h02", "mp:Y"), ("h03", "csh:0:7"),
        ("h02", "csh:0:7"), ("x", "lsh:1:2"), ("h04", "lsh:1:2"), ("h04", "sw:A"),
    ]
    index = spark.createDataFrame(hot_tok + hot_ln + small, "name string, key string")

    def table(max_block):
        return sorted(
            tuple(r) for r in candidate_families(index, max_block=max_block).collect()
        )

    capped, uncapped = table(5), table(1_000_000)
    assert capped == uncapped
    got = {(r[0], r[1]): r[2:] for r in uncapped}
    assert got[("t01", "t02")] == (2, True, False, False)
    assert got[("h01", "t01")] == (0, False, True, False)
    assert got[("h02", "h03")] == (0, False, True, True)
    assert got[("h04", "t02")] == (1, False, False, False)
    expected_pairs = (
        set(itertools.combinations(sorted(n for n, _ in hot_tok), 2))
        | set(itertools.combinations(sorted(n for n, _ in hot_ln), 2))
        | {("t01", "t02"), ("h01", "t01"), ("h02", "h03"), ("h04", "x"),
           ("h04", "t01"), ("h04", "t02")}
    )
    assert set(got) == expected_pairs
