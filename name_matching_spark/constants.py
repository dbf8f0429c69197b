"""Semantic constants for name normalization / classification.

These word lists and regexes are *data*, not code: they define the matching
semantics of the reference pipeline and must be reproduced verbatim for
parity (reference: code/functions/match_names.R:36-88). Everything else in
this package is an original Spark-first implementation.
"""

from __future__ import annotations

# Tokens dropped before matching (legal suffixes, industry terms, very common
# first names). Reference: code/functions/match_names.R:36-63 (`common_words`).
# NOTE: contains '' and ' ' on purpose — empty tokens are removed via this
# list when drop_common_words=True.
COMMON_WORDS: tuple[str, ...] = (
    "PROD", "INC", "CORP", "CORPORATION", "CO", "COMPANY", "LLC",
    "ENERGY", "OIL", "GAS", "O&G", "OG", "&", "OPERATIONS", "PRODUCTIONS",
    "ENGY", "ENGINEERING", "BOB", "CONSULTING", "ROYALTIES", "EP",
    "LM", "CHARLES", "CRAIG", "RESERVES", "ROBERT", "SCOTT", "STEVEN",
    "HOLDING", "ACQUISITION", "CONSULTANTS", "CONSULTANT", "TRUST",
    "GREG", "LE", "DIVERSIFIED",
    "ENERGY", "ROYALTY", "TEXAS", "PETR", "TOM", "RANDY", "PATRICIA", "MARK",
    "SERV", "MINERAL", "MIN", "OPERATING", "RESOURCES", "LTD", "LIMITED",
    "WELL", "OPERATOR", "PRODUCTION", "", " ", "AND", "THE", "COMPANY", "USA",
    "PETROLEUM", "JR", "MANAGEMENT", "MGMT", "ET", "AL", "DRILLING", "ETAL",
    "CONSTRUCTION", "ASSOC", "PRODUCING", "SYNDICATE", "EXPLORATION", "DRLG",
    "OF", "STATE", "EXPL", "PETRO", "LAND", "DRILLIN", "INVESTMENTS",
    "INVESTMENT", "DEVELOPMENT", "NATIONAL", "PROPERTIES", "SERVICES", "LP",
    "PIPELINE", "MINING", "DEV", "GROUP", "AMERICAN", "REFINING", "REFINERY",
    "VALLEY", "EL", "SERVICE", "PUMPING", "PARTNERS", "OILFIELD", "BROTHERS",
    "FUNDS", "PET", "COAST", "CRUDE", "SANDS", "FAMILY", "ASSOCIATES",
    "PARTNERSHIP", "MINERALS", "ESTATE", "US", "MRS", "MR", "BROS", "LEASE",
    "SOLUTIONS", "OPER", "NATURAL", "ENTERPRISES", "ENTERPRISE",
    "INTERNATIONAL", "DBA", "INCORPORATED", "UNITED", "STATES", "SONS", "SON",
    "I", "II", "III", "RES", "CAPITAL", "FARM", "FARMS", "CREEK", "STREET",
    "HILL", "HOLDINGS", "OP", "SUPPLY", "E&P", "LC", "RESOURCE",
    "PRODUCERS", "OPERATORS", "UPSTREAM", "MGMNT", "INTERESTS", "COAL",
    "ROCK", "RIVER", "CATTLE", "LAND", "VENTURES", "RIDGE", "RUN", "LAKE",
    "WILLIAM", "JOHN", "GEORGE", "DAVE", "MICHAEL", "ROBERT",
    "RICHARD", "JAMES", "DAVID", "JAMES", "HENRY", "JACK", "STEPHEN", "THOMAS",
    "RONALD", "LARRY", "DONALD", "RALPH", "PIPE", "FRANK", "SALES", "KENNETH",
    "DON", "RAY", "HAROLD", "DALE", "MARY", "SYSTEMS", "FUND", "TANK",
    "GEOLOGICAL", "ONSHORE", "OFFSHORE",
)

# Tokens dropped only if at least one other token survives (basin / region
# names). Reference: code/functions/match_names.R:65-69 (`standalone_words`).
STANDALONE_WORDS: tuple[str, ...] = (
    "AMERICA", "PERMIAN", "MARCELLUS", "UTICA",
    "HAYNESVILLE-BOSSIER", "HAYNESVILLE", "BOSSIER", "BARNETT", "WOODFORD",
    "EAGLE", "FORD", "FAYETTEVILLE", "NIOBRARA", "BAKKEN", "ANTRIM", "CENTURY",
    "WESTERN", "WEST", "NORTHERN", "NORTH", "SOUTH", "SOUTHERN", "EAST",
    "EASTERN", "NEW", "FIELD",
)

# Company-keyword detector (case-insensitive alternation). Reference:
# code/functions/match_names.R:73-88 (`company`). `\s` retained where the
# reference anchors on a preceding space.
COMPANY_KEYWORDS: tuple[str, ...] = (
    "ACQUISITION", "ENERG", "RESOURCE", "OG", "O & G", "O&G", "EXPL",
    r"\sLAND", "OPERAT", "SERVICES", r"\sOIL", "PROPERTIES", r"\sEP", "ASSOC",
    "PETR", "PARTNER", "PROD", "NATURAL", "GEOSOUTHERN", "MIDLAND",
    "INTEREST", "TEXAS", "ROYALT", "BASIN", "DRLG", "DRILL", r"\sOIL",
    r"\sGAS", "DEVELOPMENT", "HOLDING", "RIVER", "PERMIAN", "CHALFANT",
    "MGMT", "MINERALS", "CONTINENTAL", "SOUTHWESTERN", "E & P", "E&P",
    r"\sGAS", r"GAS\s", r"OIL\s", "CHURCH", "INVEST", "CAPITAL", "UNIVERSITY",
    r"\sLEASING", "LTD", "LIMITED", "MINERAL", "TITLE", "ENTERPRIS", "FINANC",
    "REFINERY", "GROUP", "TRUST", "LP", "L&P", "L & P", "CRUDE", "PROPERTIES",
    r"\sPROD", "VALLEY", "CORP", "REFINERY", "STATES", "PIPELINE", "MINING",
    "BROKER", "LONESTAR", r"\sCO$", "COMPANY", "INSTITUTIONAL",
    "INTERNATIONAL", "FUND", "EAGLE", "SYSTEMS", r"\sBANK", r"BANK\s",
    "FOUNDATION", "AMERICA", "LEASE",
)

COMPANY_REGEX: str = "(?i)(" + "|".join(
    kw.replace(r"\s", r"\\s") for kw in COMPANY_KEYWORDS
) + ")"
# `rlike`-ready (Java regex) version — \s needs no double escape in a python
# string handed to F.col(...).rlike(); keep one canonical form:
COMPANY_REGEX_JAVA: str = "(?i)(" + "|".join(COMPANY_KEYWORDS) + ")"

# PO-box detection variants. Reference: code/functions/match_addresses.R:76-91.
PO_VARIATIONS: tuple[str, ...] = (
    "BOX", "B OX", r"P\.O\.", r"P\.O", r"PO\.",
    "PO", "POB", "P O", r"P\. O\.", "DRAWER", "BO", "OX", "BX",
    "OBOX", "POBOX",
)

PO_REGEX: str = r"\b" + r"\b|\b".join(PO_VARIATIONS) + r"\b"
PO_NUM_REGEX: str = (
    r"\b" + r" \d+|\b".join(PO_VARIATIONS) + r" \d+"
    + "|"
    + r"\b" + r"\d+|\b".join(PO_VARIATIONS) + r"\d+"
)

# Default thresholds (reference: code/functions/match_names.R:584-585;
# code/matching/match_group_names.R:44-46; code/functions/pre_screen_names.R:150).
COSINE_THRESHOLD: float = 0.4
GROUP_COSINE_THRESHOLD: float = 0.65
# round 2's automatic stand-in for the reference's human review of the
# group-name pairs (an extension; see operators/grouping.py)
GROUP_TOKEN_SIM_ACCEPT: float = 0.85
JARO_THRESHOLD: float = 0.15
HUMAN_JW_THRESHOLD: float = 0.6
HUMAN_COS_THRESHOLD: float = 0.6
IMPORTANCE_MIN_MAX_RATIO: float = 0.10
# the cumulative held-out precision the RF auto-accept bar must clear (an
# extension; see operators/prescreen.rf_thresholds)
AUTO_ACCEPT_PRECISION: float = 0.98

# Small deterministic human-name dictionaries (stand-ins for the census /
# CMU corpora the reference downloads — reference: match_names.R:293-330).
# Uppercase. Kept intentionally compact; real deployments swap in the full
# lists as broadcast tables.
SURNAMES: tuple[str, ...] = (
    "SMITH", "JOHNSON", "WILLIAMS", "BROWN", "JONES", "GARCIA", "MILLER",
    "DAVIS", "RODRIGUEZ", "MARTINEZ", "HERNANDEZ", "LOPEZ", "GONZALEZ",
    "WILSON", "ANDERSON", "THOMAS", "TAYLOR", "MOORE", "JACKSON", "MARTIN",
    "LEE", "PEREZ", "THOMPSON", "WHITE", "HARRIS", "SANCHEZ", "CLARK",
    "RAMIREZ", "LEWIS", "ROBINSON", "WALKER", "YOUNG", "ALLEN", "KING",
    "WRIGHT", "SCOTT", "TORRES", "NGUYEN", "HILL", "FLORES", "GREEN",
    "ADAMS", "NELSON", "BAKER", "HALL", "RIVERA", "CAMPBELL", "MITCHELL",
    "CARTER", "ROBERTS", "MARSHALL", "CAHANA", "HOLT", "BARNES", "REEVES",
)

FIRST_NAMES: tuple[str, ...] = (
    "JAMES", "JOHN", "ROBERT", "MICHAEL", "WILLIAM", "DAVID", "RICHARD",
    "JOSEPH", "THOMAS", "CHARLES", "CHRISTOPHER", "DANIEL", "MATTHEW",
    "ANTHONY", "MARK", "DONALD", "STEVEN", "PAUL", "ANDREW", "JOSHUA",
    "KENNETH", "KEVIN", "BRIAN", "GEORGE", "EDWARD", "RONALD", "TIMOTHY",
    "JASON", "JEFFREY", "RYAN", "JACOB", "GARY", "NICHOLAS", "ERIC",
    "MARY", "PATRICIA", "JENNIFER", "LINDA", "ELIZABETH", "BARBARA",
    "SUSAN", "JESSICA", "SARAH", "KAREN", "NANCY", "LISA", "MARGARET",
    "BETTY", "SANDRA", "ASHLEY", "DOROTHY", "KIMBERLY", "EMILY", "DONNA",
    "MICHELLE", "CAROL", "AMANDA", "MELISSA", "DEBORAH", "STEPHANIE",
    "HENRY", "JACK", "STEPHEN", "LARRY", "RALPH", "FRANK", "HAROLD",
    "DALE", "RANDY", "CRAIG", "GREG", "TOM", "DON", "RAY", "DAVE", "BOB",
)

# nickname → standard first name (one row per nickname; reference dedups the
# same way at match_names.R:318-322).
NICKNAMES: tuple[tuple[str, str], ...] = (
    ("WILLIAM", "BILL"), ("WILLIAM", "BILLY"), ("WILLIAM", "WILL"),
    ("ROBERT", "ROB"), ("ROBERT", "BOBBY"),
    ("RICHARD", "DICK"), ("RICHARD", "RICK"), ("RICHARD", "RICH"),
    ("JAMES", "JIM"), ("JAMES", "JIMMY"),
    ("JOHN", "JOHNNY"), ("JOHN", "JON"),
    ("MICHAEL", "MIKE"), ("MICHAEL", "MICK"),
    ("JOSEPH", "JOE"), ("JOSEPH", "JOEY"),
    ("THOMAS", "TOMMY"),
    ("CHARLES", "CHUCK"), ("CHARLES", "CHARLIE"),
    ("CHRISTOPHER", "CHRIS"),
    ("DANIEL", "DAN"), ("DANIEL", "DANNY"),
    ("MATTHEW", "MATT"),
    ("ANTHONY", "TONY"),
    ("DONALD", "DONNIE"),
    ("STEVEN", "STEVE"),
    ("ANDREW", "ANDY"), ("ANDREW", "DREW"),
    ("JOSHUA", "JOSH"),
    ("KENNETH", "KEN"), ("KENNETH", "KENNY"),
    ("EDWARD", "ED"), ("EDWARD", "EDDIE"), ("EDWARD", "TED"),
    ("TIMOTHY", "TIM"),
    ("JEFFREY", "JEFF"),
    ("NICHOLAS", "NICK"),
    ("ELIZABETH", "LIZ"), ("ELIZABETH", "BETH"),
    ("MARGARET", "PEGGY"), ("MARGARET", "MEG"),
    ("PATRICIA", "PAT"), ("PATRICIA", "PATTY"),
    ("JENNIFER", "JEN"), ("JENNIFER", "JENNY"),
    ("KIMBERLY", "KIM"),
    ("DEBORAH", "DEB"), ("DEBORAH", "DEBBIE"),
    ("SUSAN", "SUE"), ("SUSAN", "SUZY"),
    ("SANDRA", "SANDY"),
    ("GREGORY", "GREG"),
)


def normalized_stoplist(words) -> list[str]:
    """Stoplist entries in token-normal form: tokens are compared AFTER
    punctuation stripping + uppercasing, so hyphenated entries (e.g.
    HAYNESVILLE-BOSSIER) must be normalized the same way or they can never
    match a token (found at the sf1 stress run — un-dropped region words
    produced cross-entity shared-token false matches). Keeps the original
    spellings too (harmless: punctuated forms simply never match)."""
    import re

    out = set()
    for w in words:
        out.add(w)
        out.add(re.sub(r"[^\w\s]", "", w.upper()))
    return sorted(out)
