"""HL7 ER7 parser tests against the reference message corpus
(SURVEY.md §5.2.4 golden-parse strategy; corpus coverage per
FIXTURES.md §11)."""

from __future__ import annotations

import json
import os

import pytest

from hcls_data_lake_spark.hl7.er7 import parse_er7

ASSETS = os.path.join(os.path.dirname(__file__), "assets", "messages")


def corpus_messages() -> list[tuple[str, str]]:
    """Split each corpus file into individual messages (files may hold
    several; a new message starts at an MSH line)."""
    out = []
    for fname in sorted(os.listdir(ASSETS)):
        text = open(os.path.join(ASSETS, fname), encoding="utf-8").read()
        current: list[str] = []
        idx = 0
        for line in text.replace("\r\n", "\n").replace("\r", "\n").split("\n"):
            if line.startswith("MSH|") and current:
                out.append((f"{fname}#{idx}", "\r".join(current)))
                idx += 1
                current = []
            if line.strip():
                current.append(line)
        if current:
            out.append((f"{fname}#{idx}", "\r".join(current)))
    return out


MESSAGES = corpus_messages()


def test_corpus_size():
    # 6 files, 11 distinct messages (adt03 holds 5, adt01 2; counted
    # from MSH starts — FIXTURES.md's "12" was off by one)
    assert len(MESSAGES) == 11


@pytest.mark.parametrize("name,msg", MESSAGES, ids=[m[0] for m in MESSAGES])
def test_parse_corpus_message(name, msg):
    doc_json = parse_er7(msg)
    assert doc_json is not None, f"{name} failed to parse"
    doc = json.loads(doc_json)
    # every parsed doc has an MSH segment list with the message type
    # MSH is max-1 in the grammar -> plain dict (grammar-driven shape)
    assert "MSH" in doc and isinstance(doc["MSH"], dict)
    msh = doc["MSH"]
    assert msh["MSH_1"] == "|"
    assert msh["MSH_2"].startswith("^")


def test_repeating_segments_become_lists():
    # adt02.txt has two NK1 segments (FIXTURES.md: NK1 ×2 → list)
    msg = next(m for n, m in MESSAGES if n.startswith("adt02"))
    doc = json.loads(parse_er7(msg))
    assert len(doc["NK1"]) == 2


def test_component_and_repetition_shape():
    doc = json.loads(
        parse_er7("MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\r"
                  "PID|1||id1~id2||Last^First")
    )
    pid = doc["PID"]
    # ~ repetition -> list; CX is a KNOWN composite, so each singleton
    # repetition is the one-key dict hl7apy serializes (r7, VERDICT r6
    # ask #4 — single-component composite collapse closed)
    assert pid["PID_3"] == [{"CX_1": "id1"}, {"CX_1": "id2"}]
    # PID-5 is grammar-repeatable: singleton still wraps in a list
    # (field-level analog of parse_er7_lambda.py:57-65); components
    # carry the field datatype's names (XPN), hl7apy's key spelling
    assert pid["PID_5"] == [{"XPN_1": "Last", "XPN_2": "First"}]


def test_empty_field_quirk_unwrapped():
    # `""` unwraps to empty string (parse_er7_lambda.py:48-50 quirk)
    doc = json.loads(
        parse_er7('MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\rPID|1||X||""')
    )
    # unwrapped inside PID-5's grammar-driven repetition list (XPN is
    # a known composite -> one-key dict even for the empty quirk)
    assert doc["PID"]["PID_5"] == [{"XPN_1": ""}]


def test_junk_routes_to_none():
    # non-HL7 payload fails parse -> None -> error zone (A15;
    # test_services.py:75 junk string behavior)
    assert parse_er7("I'm just a random number: 42") is None
    assert parse_er7("") is None


def test_subcomponents():
    doc = json.loads(
        parse_er7("MSH|^~\\&|A|B|C|D|20240101||ORU^R01|1|P|2.3\r"
                  "OBX|1|CE|X&Y&Z\r"
                  "ZZZ|1|a&b^c&d")
    )
    # ORU_R01 structure: the OBX nests under its group wrappers, max-1
    # within its OBSERVATION group -> dict. The message declares 2.3,
    # so the outer group carries hl7apy's PRE-2.4 spelling
    # ORU_R01_RESPONSE (renamed PATIENT_RESULT in 2.5) — r8
    # version-keyed grammar.
    obx = doc["ORU_R01_RESPONSE"][0]["ORU_R01_ORDER_OBSERVATION"][0][
        "ORU_R01_OBSERVATION"
    ][0]["OBX"]
    # OBX-3 is CE whose first component is ST — a PRIMITIVE leaf, so the
    # unescaped '&' survives verbatim (hl7apy's leaf-value behavior; the
    # lab01 '93000&PTL' case), wrapped in the CE's one-key component
    # dict (single-component composite, VERDICT r6 ask #4)
    assert obx["OBX_3"] == {"CE_1": "X&Y&Z"}
    # unknown segment/field: subcomponents keep the synthetic S<n>
    # fallback so structure is never lost outside the vendored grammar
    zzz = doc["ZZZ"][0]
    assert zzz["ZZZ_2"] == {
        "C1": {"S1": "a", "S2": "b"},
        "C2": {"S1": "c", "S2": "d"},
    }


def test_golden_corpus_fields():
    """Golden spot-checks pinned from the corpus files."""
    by_name = dict(MESSAGES)
    lab01 = json.loads(parse_er7(by_name["lab01.txt#0"]))
    # MSH-2 keeps the file's NON-STANDARD encoding chars verbatim
    # (lab01 uses a backtick escape char instead of backslash)
    assert lab01["MSH"]["MSH_2"] == "^~`&"
    # the 13 observations nest under the ORU_R01 group hierarchy, one
    # OBSERVATION instance each (VERDICT r5 ask #3 acceptance); lab01
    # declares 2.3, whose grammar spells the outer group
    # ORU_R01_RESPONSE (r8 version-keyed tables)
    order = lab01["ORU_R01_RESPONSE"][0]["ORU_R01_ORDER_OBSERVATION"]
    assert len(order) == 1 and isinstance(order[0]["OBR"], dict)
    obs = order[0]["ORU_R01_OBSERVATION"]
    assert len(obs) == 13
    assert all(isinstance(o["OBX"], dict) for o in obs)

    adt01_first = json.loads(parse_er7(by_name["adt01.txt#0"]))
    assert len(adt01_first["DG1"]) == 3  # repeating DG1 ×3


def test_field_level_repetition_shape_on_corpus():
    """Grammar-driven FIELD shape (round-4 fix, parse_er7_lambda.py:
    57-65 applied per field): a repeatable field occurring ONCE still
    serializes as a list, so path expressions over staged documents are
    stable whether the sender repeated the field or not."""
    by_name = dict(MESSAGES)

    # adt02: PID-13 home phone appears once -> one-element list whose
    # element is the XTN composite's one-key dict (r7 composite fix)
    adt02 = json.loads(parse_er7(by_name["adt02.txt#0"]))
    assert adt02["PID"]["PID_13"] == [{"XTN_1": "(157)983-3296"}]
    # PID-3 single MRN -> list; PID-5 single name -> list of comp-dict
    assert adt02["PID"]["PID_3"] == [{"CX_1": "000395122"}]
    assert adt02["PID"]["PID_5"][0]["XPN_1"] == "LEVERKUHN"
    # NK1-5 single contact phone -> list (inside the NK1 segment list)
    assert adt02["NK1"][0]["NK1_5"] == [{"XTN_1": "(157)883-6176"}]

    # adt03 second PID carries FOUR PID-13 repetitions -> list of 4
    athena = next(
        json.loads(parse_er7(m))
        for n, m in MESSAGES
        if n.startswith("adt03") and "(333)333-3333" in m
    )
    assert len(athena["PID"]["PID_13"]) == 4

    # non-repeatable fields keep their plain shape: MSH-9 message type
    # a component dict (MSG datatype keys — adt02 declares 2.7, where
    # MSG still applies); PID-8 sex is a CWE in 2.7 (v2.7 promoted the
    # IS code fields — r8 version-keyed grammar), so the singleton
    # wraps in the one-key composite dict
    assert adt02["PID"]["PID_8"] == {"CWE_1": "M"}
    assert adt02["MSH"]["MSH_9"]["MSG_1"] == "ADT"


def test_typed_adt_projection_on_corpus(spark):
    from hcls_data_lake_spark.hl7.er7 import typed_adt

    rows = [(n, m) for n, m in MESSAGES]
    df = spark.createDataFrame(rows, "name string, er7 string")
    out = {r.name: r for r in typed_adt(df).collect()}

    adt01 = next(v for k, v in out.items() if k.startswith("adt01"))
    assert adt01.message_type == "ADT" and adt01.trigger_event == "A01"
    assert adt01.hl7_version == "2.5"
    assert adt01.patient_id == "P410000" and adt01.sex == "M"

    lab02 = next(v for k, v in out.items() if k.startswith("lab02"))
    assert lab02.message_type == "ORU" and lab02.trigger_event == "R01"
    assert lab02.family_name == "SAMPLES" and lab02.given_name == "JUNIOR"

    adt02 = next(v for k, v in out.items() if k.startswith("adt02"))
    assert len(adt02.nk1_names) == 2  # repeatable NK1 -> array of 2


def test_typed_oru_projection_on_corpus(spark):
    from hcls_data_lake_spark.hl7.er7 import typed_oru

    rows = [(n, m) for n, m in MESSAGES if n.startswith("lab02")]
    df = spark.createDataFrame(rows, "name string, er7 string")
    row = typed_oru(df).collect()[0]
    obs = row.observations
    assert len(obs) >= 3
    first = obs[0]
    assert first.value_type == "NM"
    assert first.observation_id.startswith("0135")
    assert first.value == "7.3" and abs(first.value_num - 7.3) < 1e-9
    assert first.units == "gm/dl"
    # every NM observation parsed to a double
    assert all(o.value_num is not None for o in obs if o.value_type == "NM")


def test_unescape_er7_python():
    r"""HL7 escape decoding (\F\ \S\ \T\ \R\ \E\): the adjacency case
    \F\E\T\ is the trap — a sequential replace of \E\ first would eat
    the neighbors' delimiters; the tokenizer must read it as
    \F\, literal E, \T\ -> '|E&'."""
    from hcls_data_lake_spark.hl7.er7 import unescape_er7

    assert unescape_er7(r"SMITH \T\ JONES") == "SMITH & JONES"
    assert unescape_er7("\\F\\") == "|"
    assert unescape_er7("\\E\\") == "\\"
    assert unescape_er7("\\F\\E\\T\\") == "|E&"
    assert unescape_er7("\\E\\F\\E\\") == "\\F\\"
    assert unescape_er7(r"a\S\b\R\c") == "a^b~c"
    # unknown escapes (hex, Z-custom) are preserved verbatim
    assert unescape_er7(r"x\X0D\y") == r"x\X0D\y"
    assert unescape_er7("plain") == "plain"
    # malformed UNPAIRED tail is literal text, not a closed escape:
    # 'abc\F' must NOT decode to 'abc|' and 'AB\C' must not grow a
    # trailing backslash (round-4 ADVICE fix)
    assert unescape_er7("abc\\F") == "abc\\F"
    assert unescape_er7("AB\\C") == "AB\\C"
    assert unescape_er7("tail\\") == "tail\\"
    # a VALID escape followed by an unpaired tail decodes the pair only
    assert unescape_er7("\\F\\x\\E") == "|x\\E"


def test_parse_er7_decodes_escaped_field_sep():
    r"""An escaped | inside PID-5 must stay INSIDE the field: the
    segment still has the same field count and the leaf value carries
    the literal pipe (SURVEY §4 item 1's 'HL7 escape handling')."""
    msg = (
        "MSH|^~\\&|APP|FAC|||20240101||ADT^A01|1|P|2.5\r"
        "PID|1||42||PIPE\\F\\FIELD^GIVEN||19900101|M"
    )
    doc = json.loads(parse_er7(msg))
    pid5 = doc["PID"]["PID_5"][0]  # grammar-repeatable field -> list
    assert pid5["XPN_1"] == "PIPE|FIELD"
    assert pid5["XPN_2"] == "GIVEN"
    # field count unchanged: PID_8 still lands on sex
    assert doc["PID"]["PID_8"] == "M"


def test_msh2_encoding_chars_not_unescaped():
    """MSH-2 is the encoding-characters declaration itself — its
    backslash is a DELIMITER DEFINITION, not an escape sequence, and
    must survive verbatim (parse_er7_lambda.py keeps it raw)."""
    msg = "MSH|^~\\&|APP|FAC|||20240101||ADT^A01|1|P|2.5\rPID|1||42"
    doc = json.loads(parse_er7(msg))
    assert doc["MSH"]["MSH_2"] == "^~\\&"


def test_native_unescape_matches_python(spark):
    r"""Column-expression decoder must agree with the Python decoder on
    every escape shape, including the cross-token adjacency traps."""
    from pyspark.sql import functions as F

    from hcls_data_lake_spark.hl7.er7 import er7_unescape, unescape_er7

    cases = [
        r"SMITH \T\ JONES", "\\F\\", "\\E\\", "\\F\\E\\T\\", "\\E\\F\\E\\",
        r"a\S\b\R\c", r"x\X0D\y", "plain", "",
        # malformed unpaired tails (kept literal) + pair-then-tail mix
        "abc\\F", "AB\\C", "tail\\", "\\F\\x\\E",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    got = [r["d"] for r in df.select(er7_unescape(F.col("v")).alias("d")).collect()]
    assert got == [unescape_er7(c) for c in cases]

    # the one-round-trip SQL-string form must agree with both
    from hcls_data_lake_spark.hl7.er7 import er7_unescape_sql

    got_sql = [
        r["d"]
        for r in df.select(F.expr(er7_unescape_sql("v")).alias("d")).collect()
    ]
    assert got_sql == [unescape_er7(c) for c in cases]


def test_typed_adt_unescapes_leaves(spark):
    r"""typed_adt leaf extraction decodes escapes AFTER splitting: an
    escaped component sep in the family name surfaces as a literal ^
    and the given-name component is unaffected."""
    from hcls_data_lake_spark.hl7.er7 import typed_adt

    msg = (
        "MSH|^~\\&|APP|FAC|||20240101||ADT^A01|1|P|2.5\r"
        "PID|1||42^^^MRN||CARET\\S\\NAME^GIV||19900101|M\r"
        "NK1|1|AMP\\T\\CONTACT^A|SPOUSE"
    )
    row = typed_adt(
        spark.createDataFrame([(msg,)], "er7 string")
    ).collect()[0]
    assert row["family_name"] == "CARET^NAME"
    assert row["given_name"] == "GIV"
    assert row["nk1_names"] == ["AMP&CONTACT"]


# Golden TOP-LEVEL dict-vs-list shape per corpus message (VERDICT r4
# ask #4 + r5 ask #3 acceptance): structure-resolved messages nest
# segments under their GROUP wrappers (hl7apy's recursion,
# parse_er7_lambda.py:52-69), so the top level carries the message's
# direct children — flat segments plus group-instance lists. 'L' =
# list (repeatable within the message), 'D' = dict (max-1).
_GOLDEN_SHAPES = {
    # ADT_A01 structure (A01/A04): OBX/DG1/NK1 repeat directly at
    # message level; IN1 nests inside its repeating INSURANCE group
    "adt01.txt#0": {"MSH": "D", "EVN": "D", "PID": "D", "PV1": "D",
                    "PV2": "D", "OBX": "L", "DG1": "L"},
    "adt01.txt#1": {"MSH": "D", "EVN": "D", "PID": "D", "NK1": "L",
                    "PV1": "D"},
    "adt02.txt#0": {"MSH": "D", "PID": "D", "NK1": "L",
                    "ADT_A01_INSURANCE": "L"},
    # adt03 declares 2.3.1, where each ADT trigger owns a structure
    # (the MSH-9.3 consolidation is 2.4+) and group wrappers carry the
    # OWNING structure's prefix (r8 version-keyed grammar): A28/A31
    # messages nest IN1 in ADT_A28_/ADT_A31_INSURANCE, the A40 merge
    # nests PID/MRG in ADT_A40_PATIENT
    "adt03_AthenaHealth.txt#0": {"MSH": "D", "EVN": "D", "PID": "D",
                                 "PV1": "D", "GT1": "L"},
    "adt03_AthenaHealth.txt#1": {"MSH": "D", "EVN": "D", "PID": "D",
                                 "PD1": "D", "NK1": "L", "PV1": "D",
                                 "GT1": "L", "ADT_A31_INSURANCE": "L"},
    "adt03_AthenaHealth.txt#2": {"MSH": "D", "EVN": "D",
                                 "ADT_A40_PATIENT": "L"},
    "adt03_AthenaHealth.txt#3": {"MSH": "D", "EVN": "D", "PID": "D",
                                 "NK1": "L", "PV1": "D", "GT1": "L",
                                 "ADT_A28_INSURANCE": "L"},
    "adt03_AthenaHealth.txt#4": {"MSH": "D", "EVN": "D", "PID": "D",
                                 "NK1": "L", "PV1": "D", "GT1": "L",
                                 "ADT_A31_INSURANCE": "L"},
    # ORU_R01 pre-2.4 (lab01/lab02 declare 2.3): the outer group is
    # hl7apy's ORU_R01_RESPONSE spelling; lab02's out-of-structure ADD
    # continuation rows and FTS file trailer fall back to flat
    # union-table attachment
    "lab01.txt#0": {"MSH": "D", "ORU_R01_RESPONSE": "L"},
    "lab02.txt#0": {"MSH": "D", "ORU_R01_RESPONSE": "L",
                    "ADD": "L", "FTS": "D"},
    # lab03 declares 2.1 — OUTSIDE hl7apy's supported set, so the
    # reference dead-letters it (UnsupportedVersion). Lenient mode
    # shapes it flat under the union tables with 2.1 datatypes: there
    # is no hl7apy 2.1 grammar (hence no group nesting) to mirror.
    "lab03.txt#0": {"MSH": "D", "PID": "D", "OBR": "L", "OBX": "L"},
}


@pytest.mark.parametrize("name,msg", MESSAGES, ids=[m[0] for m in MESSAGES])
def test_grammar_shape_per_segment(name, msg):
    """Golden grammar-driven document shape for every corpus message,
    keyed per (message structure, segment) exactly like the reference's
    hl7apy recursion (parse_er7_lambda.py:57-65 keys repetitions per
    parent structure): a segment that is max-1 in ITS structure is a
    plain dict even where another covered family allows repeats, while
    repeatable segments are lists EVEN WHEN SINGULAR (adt01's NK1 x1,
    adt03's GT1 x1 per message)."""
    doc = json.loads(parse_er7(msg))
    expected = _GOLDEN_SHAPES[name]
    got = {
        seg: ("L" if isinstance(body, list) else "D")
        for seg, body in doc.items()
    }
    assert got == expected, f"{name}: {got} != {expected}"
    for seg, body in doc.items():
        if isinstance(body, list):
            assert all(isinstance(b, dict) for b in body), f"{name}: {seg}"


def test_repeatable_but_singleton_is_still_a_list():
    # adt01#1 carries exactly one NK1; ADT_A01's grammar says NK1
    # repeats -> the single occurrence is a one-element list (the
    # round-2 gap). IN1, by contrast, is max-1 within its repeating
    # INSURANCE group: adt02's single IN1 nests as a DICT inside one
    # ADT_A01_INSURANCE group instance (r5 group-nesting acceptance).
    msg = next(m for n, m in MESSAGES if n == "adt01.txt#1")
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["NK1"], list) and len(doc["NK1"]) == 1
    adt02 = json.loads(parse_er7(next(
        m for n, m in MESSAGES if n.startswith("adt02"))))
    ins = adt02["ADT_A01_INSURANCE"]
    assert isinstance(ins, list) and len(ins) == 1
    assert isinstance(ins[0]["IN1"], dict)


def test_datatype_component_spelling_golden():
    """VERDICT r4 ask #5 acceptance: components are keyed by the
    field's DATATYPE short name (hl7apy's spelling, inherited by the
    reference via child_element.name) for the corpus-exercised fields
    of adt01 and lab01 — XPN for names, MSG for MSH-9, CE for coded
    entries, with OBX-5's 'varies' type resolved from OBX-2."""
    by_name = dict(MESSAGES)
    # adt01's FIRST message declares 2.5: MSG-keyed MSH-9 (with the
    # explicit MSH-9.3 structure) and a VID composite MSH-12
    adt01_v25 = json.loads(parse_er7(by_name["adt01.txt#0"]))
    assert adt01_v25["MSH"]["MSH_9"] == {
        "MSG_1": "ADT", "MSG_2": "A01", "MSG_3": "ADT_A01"
    }
    assert adt01_v25["MSH"]["MSH_12"] == {"VID_1": "2.5"}
    # adt01's SECOND message declares 2.3 (r8 version-keyed grammar):
    # MSH-9 is the pre-2.4 CM_MSG compound, MSH-12 a plain ID leaf
    adt01 = json.loads(parse_er7(by_name["adt01.txt#1"]))
    assert adt01["MSH"]["MSH_9"] == {"CM_MSG_1": "ADT", "CM_MSG_2": "A01"}
    assert adt01["MSH"]["MSH_12"] == "2.3"
    assert adt01["PID"]["PID_5"][0]["XPN_1"] == "DOE"
    assert adt01["PID"]["PID_5"][0]["XPN_2"] == "JOHN"
    # PID-2 is NOT field-repeatable -> plain component dict, CX keys
    # (empty wire components survive as empty strings, like hl7apy)
    assert adt01["PID"]["PID_2"] == {
        "CX_1": "100001", "CX_2": "", "CX_3": "", "CX_4": "1",
        "CX_5": "MRN1",
    }
    assert adt01["PID"]["PID_11"][0]["XAD_1"] == "111 THAT PL"
    assert adt01["NK1"][0]["NK1_2"][0]["XPN_1"] == "DOE"
    assert adt01["PV1"]["PV1_7"][0]["XCN_2"] == "DOCTOR"

    lab01 = json.loads(parse_er7(by_name["lab01.txt#0"]))
    # lab01 declares 2.3: MSH-9 is the CM_MSG compound (hl7apy's
    # pre-2.4 spelling) and MSH-12 a plain ID leaf, not a VID (r8)
    assert lab01["MSH"]["MSH_9"] == {"CM_MSG_1": "ORU", "CM_MSG_2": "R01"}
    assert lab01["MSH"]["MSH_12"] == "2.3"
    order = lab01["ORU_R01_RESPONSE"][0]["ORU_R01_ORDER_OBSERVATION"][0]
    assert order["OBR"]["OBR_4"] == {
        "CE_1": "0", "CE_2": "ADULT", "CE_3": "ROCHECG"
    }
    obxes = [o["OBX"] for o in order["ORU_R01_OBSERVATION"]]
    # OBX-3 observation id is CE in every OBX; CE_1 is an ST PRIMITIVE,
    # so an unescaped '&' inside it survives verbatim (hl7apy's leaf
    # value — r5 ask #4: no fabricated S<n> keys on the corpus)
    assert all("CE_1" in o["OBX_3"] for o in obxes)
    by_set_id = {o["OBX_4"]: o for o in obxes}
    assert by_set_id["5"]["OBX_3"]["CE_1"] == "93000&PTL"
    # OBX-5 'varies': typed CE by OBX-2, so its components use CE keys,
    # and the CE_1 value keeps its raw '&' too
    ce_obx = [o for o in obxes if o["OBX_2"] == "CE"]
    assert all(
        all("CE_1" in rep for rep in o["OBX_5"] if isinstance(rep, dict))
        for o in ce_obx
    )
    assert by_set_id["7"]["OBX_5"][0]["CE_1"] == "21&101"
    # OBX-5 typed TX (a primitive): the whole value is a leaf — the
    # unescaped '^' the sender smuggled in survives verbatim
    assert by_set_id["12"]["OBX_5"] == ["9917^LASTNAME MD^FIRSTNAME"]


def test_group_nesting_lab02_resync():
    """lab02 interleaves out-of-structure ADD continuation rows with the
    clinical content; the structure walk must RESUME after each — every
    OBR still opens an ORU_R01_ORDER_OBSERVATION group with its OBX
    observations nested, and the PATIENT group keeps the PID. (hl7apy
    itself would dead-letter the whole file on the first ADD; lenient
    mode is the documented superset.)"""
    msg = next(m for n, m in MESSAGES if n.startswith("lab02"))
    doc = json.loads(parse_er7(msg))
    results = doc["ORU_R01_RESPONSE"]  # lab02 declares 2.3 (r8)
    patients = [r["ORU_R01_PATIENT"] for r in results if "ORU_R01_PATIENT" in r]
    assert any("PID" in p for p in patients)
    orders = [
        oo
        for r in results
        for oo in r.get("ORU_R01_ORDER_OBSERVATION", [])
    ]
    # five OBR blocks in the file each open an order group; one OBX run
    # that an ADD separated from its OBR resyncs into an OBR-less group
    with_obr = [oo for oo in orders if "OBR" in oo]
    assert len(with_obr) == 5 and len(orders) == 6
    assert all(isinstance(oo["OBR"], dict) for oo in with_obr)
    total_obx = sum(len(oo.get("ORU_R01_OBSERVATION", [])) for oo in orders)
    assert total_obx == 82  # every OBX in the file, none lost
    # the message-level walk never swallowed the file framing
    assert isinstance(doc["FTS"], dict)


def test_fn_subcomponent_datatype_naming():
    """r5 ask #4 acceptance: a composite COMPONENT's subcomponents are
    named by the component's own datatype — XPN_1 is an FN, so the
    compound surname 'van&den&Berg' yields FN_1/FN_2/FN_3, hl7apy's
    spelling one level down (not synthetic S<n>)."""
    msg = ("MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\r"
           "PID|1||42^^^HOSP&1.2.3&ISO||van&den&Berg^GIVEN")
    pid = json.loads(parse_er7(msg))["PID"]
    assert pid["PID_5"][0]["XPN_1"] == {
        "FN_1": "van", "FN_2": "den", "FN_3": "Berg"
    }
    # CX_4 assigning authority is an HD: HD-named subcomponents
    assert pid["PID_3"][0]["CX_4"] == {
        "HD_1": "HOSP", "HD_2": "1.2.3", "HD_3": "ISO"
    }


def test_siu_scheduling_structure_nests():
    """r6 grammar breadth: a SIU^S12 scheduling notification resolves
    to the vendored SIU_S12 tree — patient and resource groups nest
    with hl7apy's group spelling, and strict mode accepts the family
    instead of dead-lettering it on day one."""
    msg = ("MSH|^~\\&|SCHED|FAC|||20240101||SIU^S12|1|P|2.5\r"
           "SCH|1|A123||||CHECKUP\r"
           "PID|1||42\r"
           "RGS|1\r"
           "AIS|1||EXAM\r"
           "NTE|1||bring records\r"
           "AIP|1||DR^WHO")
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["SCH"], dict)
    assert doc["SIU_S12_PATIENT"][0]["PID"]["PID_3"] == [{"CX_1": "42"}]
    res = doc["SIU_S12_RESOURCES"][0]
    assert isinstance(res["RGS"], dict)
    svc = res["SIU_S12_SERVICE"][0]
    assert svc["AIS"]["AIS_3"] == {"CE_1": "EXAM"}
    assert svc["NTE"][0]["NTE_3"] == ["bring records"]
    # AIP-3 is an XCN: components carry hl7apy's datatype spelling
    assert res["SIU_S12_PERSONNEL_RESOURCE"][0]["AIP"]["AIP_3"] == {
        "XCN_1": "DR", "XCN_2": "WHO"
    }


def test_mdm_document_structure_nests():
    """r6 grammar breadth: MDM^T02 document notifications nest their
    OBX content under MDM_T02_OBSERVATION groups, TXA stays max-1."""
    msg = ("MSH|^~\\&|EHR|FAC|||20240101||MDM^T02|1|P|2.5\r"
           "EVN|T02|20240101\r"
           "PID|1||42\r"
           "PV1|1|O\r"
           "TXA|1|CN|TX|20240101\r"
           "OBX|1|TX|NOTE||hello\r"
           "OBX|2|TX|NOTE||world")
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["TXA"], dict)
    obs = doc["MDM_T02_OBSERVATION"]
    assert len(obs) == 2
    # OBX-5 typed TX by OBX-2: primitive leaf, repeatable field -> list
    assert obs[0]["OBX"]["OBX_5"] == ["hello"]
    assert obs[1]["OBX"]["OBX_5"] == ["world"]


def test_adt_a03_procedure_group_nests():
    """r6 grammar breadth: ADT^A03 discharge with procedures — PR1
    nests inside repeating ADT_A03_PROCEDURE groups."""
    msg = ("MSH|^~\\&|A|B|C|D|20240101||ADT^A03|1|P|2.5\r"
           "EVN|A03|20240101\r"
           "PID|1||42\r"
           "PV1|1|I\r"
           "PR1|1||0123^APPENDECTOMY\r"
           "PR1|2||0456^REPAIR")
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    procs = doc["ADT_A03_PROCEDURE"]
    assert len(procs) == 2
    assert all(isinstance(p["PR1"], dict) for p in procs)


def _segment_ids(node, out):
    """Collect segment ids from a parsed document (group wrappers are
    the >3-char keys; recurse through them and through lists)."""
    if isinstance(node, list):
        for item in node:
            _segment_ids(item, out)
    elif isinstance(node, dict):
        for key, val in node.items():
            if len(key) == 3:
                out.add(key)
            else:  # group wrapper
                _segment_ids(val, out)
    return out


def test_corpus_segments_all_known_to_grammar():
    """The vendored table must cover every segment the corpus uses —
    otherwise strict mode would dead-letter valid reference messages.
    EXCEPTION (r8, version-keyed grammar): lab03 declares HL7 2.1,
    which hl7apy does not support — the reference's parse raises
    UnsupportedVersion and the message dead-letters, so strict mode
    here returns None for it too (version-correct behavior)."""
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    is_known = grammar_for(None).is_known
    for name, msg in MESSAGES:
        doc = json.loads(parse_er7(msg))
        segs = _segment_ids(doc, set())
        unknown = [s for s in segs if not is_known(s)]
        assert not unknown, f"{name}: {unknown} missing from grammar"
        if name.startswith("lab03"):
            assert parse_er7(msg, strict=True) is None, name
        else:
            assert parse_er7(msg, strict=True) is not None, name


def test_strict_rejects_unknown_segment():
    """Strict mode mirrors the reference's version check
    (parse_er7_lambda.py:35-38): a structurally valid message whose
    segment id is unknown to the grammar parses to None (error zone),
    while lenient mode preserves it as a list."""
    msg = (
        "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\r"
        "PID|1||42\r"
        "ZBE|1|custom-site-extension"
    )
    assert parse_er7(msg, strict=True) is None
    doc = json.loads(parse_er7(msg))
    assert doc["ZBE"] == [{"ZBE_1": "1", "ZBE_2": "custom-site-extension"}]


def test_strict_rejects_duplicated_singleton():
    msg = (
        "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|2.5\r"
        "PID|1||42\r"
        "PID|2||43"
    )
    assert parse_er7(msg, strict=True) is None
    # lenient: data wins, the duplicate demotes the dict to a list
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["PID"], list) and len(doc["PID"]) == 2


def test_ack_structure_nests():
    """ACK (r7, VERDICT r6 ask #3): the general acknowledgment shares
    one 3-segment structure across every trigger — MSA max-1 dict,
    ERR repeatable list — resolved from the ACK message type alone
    (no per-trigger map entry needed)."""
    msg = (
        "MSH|^~\\&|HIS|FAC|LAKE|DC|20240101||ACK^A01|9|P|2.5\r"
        "MSA|AE|42\r"
        "ERR|1^Seq error\r"
        "ERR|2"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["MSA"], dict)
    assert doc["MSA"]["MSA_1"] == "AE"  # ID primitive -> leaf
    assert isinstance(doc["ERR"], list) and len(doc["ERR"]) == 2
    # ERR-1 is grammar-repeatable ELD: singleton -> one-element list,
    # components named by the ELD datatype
    assert doc["ERR"][0]["ERR_1"] == [{"ELD_1": "1", "ELD_2": "Seq error"}]


def test_orm_order_structure_nests():
    """ORM_O01 (r7): patient group max-1 (dict), repeating ORDER
    groups each holding ORC + an ORDER_DETAIL whose CHOICE carries
    the alternation (OBR for a lab order, RXO for a pharmacy order),
    with NTE/DG1/OBSERVATION nesting inside the detail — the other
    half of the ORU round-trip the reference's lab corpus implies."""
    msg = (
        "MSH|^~\\&|CPOE|FAC|LIS|FAC|20240101||ORM^O01|77|P|2.5\r"
        "PID|1||4711\r"
        "PV1|1|O\r"
        "ORC|NW|ORD1\r"
        "OBR|1|ORD1||93000^EKG\r"
        "NTE|1||stat\r"
        "DG1|1||I10^Hypertension\r"
        "OBX|1|NM|8867-4^HR||72\r"
        "ORC|NW|ORD2\r"
        "RXO|DRUG^Aspirin|325||MG"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    pat = doc["ORM_O01_PATIENT"]
    assert isinstance(pat, dict)
    assert pat["PID"]["PID_3"] == [{"CX_1": "4711"}]
    assert pat["ORM_O01_PATIENT_VISIT"]["PV1"]["PV1_2"] == "O"
    orders = doc["ORM_O01_ORDER"]
    assert isinstance(orders, list) and len(orders) == 2
    d0 = orders[0]["ORM_O01_ORDER_DETAIL"]
    assert d0["ORM_O01_CHOICE"]["OBR"]["OBR_4"]["CE_1"] == "93000"
    assert isinstance(d0["NTE"], list) and isinstance(d0["DG1"], list)
    obs = d0["ORM_O01_OBSERVATION"]
    assert len(obs) == 1 and obs[0]["OBX"]["OBX_5"] == ["72"]  # NM leaf (repeatable field)
    d1 = orders[1]["ORM_O01_ORDER_DETAIL"]
    assert d1["ORM_O01_CHOICE"]["RXO"]["RXO_1"]["CE_2"] == "Aspirin"


def test_vxu_vaccination_structure_nests():
    """VXU_V04 (r7): repeating ORDER groups each carrying the RXA
    administration record (+RXR route, +OBSERVATION list), with OBX-5
    typed by OBX-2 inside the group exactly as at top level."""
    msg = (
        "MSH|^~\\&|EHR|FAC|IIS|STATE|20240101||VXU^V04|55|P|2.5\r"
        "PID|1||777\r"
        "ORC|RE|VAX1\r"
        "RXA|0|1|20240101|20240101|08^HepB^CVX|0.5|mL^mL\r"
        "RXR|IM^Intramuscular\r"
        "OBX|1|CE|30963-0^Funding source||VXC50\r"
        "ORC|RE|VAX2\r"
        "RXA|0|1|20240101|20240101|141^Influenza^CVX|0.5|mL^mL"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert isinstance(doc["PID"], dict)
    orders = doc["VXU_V04_ORDER"]
    assert isinstance(orders, list) and len(orders) == 2
    o0 = orders[0]
    assert o0["RXA"]["RXA_5"]["CE_1"] == "08"
    assert o0["RXA"]["RXA_5"]["CE_3"] == "CVX"
    assert o0["RXR"]["RXR_1"]["CE_1"] == "IM"
    obs = o0["VXU_V04_OBSERVATION"]
    # OBX-5 typed CE via OBX-2; single component -> one-key dict,
    # wrapped by OBX-5's field-level repeatability
    assert obs[0]["OBX"]["OBX_5"] == [{"CE_1": "VXC50"}]
    assert orders[1]["RXA"]["RXA_5"]["CE_1"] == "141"


def test_typed_vxu_projection(spark):
    """r7: the codegen-native VXU projection recovers message/patient
    identity and every RXA administration as typed structs, in
    message order, with the dose try_cast to integer."""
    from hcls_data_lake_spark.hl7.er7 import typed_vxu

    msg = (
        "MSH|^~\\&|EHR|FAC|IIS|STATE|20240101||VXU^V04|55|P|2.5\r"
        "PID|1||777^^^MRN\r"
        "ORC|RE|VAX1\r"
        "RXA|0|1|20240102|20240102|08^HepB^CVX|50|mL\r"
        "RXA|0|1|20240103|20240103|141^Flu \\T\\ Co^CVX|25|mL"
    )
    df = spark.createDataFrame([(msg,)], "er7 string")
    row = typed_vxu(df).collect()[0]
    assert row.message_type == "VXU" and row.trigger_event == "V04"
    assert row.patient_id == "777"
    a = row.administrations
    assert len(a) == 2
    assert a[0].vaccine_code == "08" and a[0].vaccine_name == "HepB"
    assert a[0].dose_c == 50 and a[0].admin_date == "20240102"
    # unescape applied to leaves: \T\ decodes to '&'
    assert a[1].vaccine_name == "Flu & Co"
    assert a[1].dose_c == 25


def test_dft_financial_structure_nests():
    """DFT_P03 (r7): financial-transaction posting — repeating
    FINANCIAL groups each holding one FT1 (with nested
    FINANCIAL_PROCEDURE), the billing feed every HCLS lake stages
    beside ADT/ORU. FT1-11 is a CP (composite price) whose first
    component is an MO money type."""
    msg = (
        "MSH|^~\\&|BILLING|FAC|LAKE|DC|20240101||DFT^P03|88|P|2.5\r"
        "EVN|P03|20240101\r"
        "PID|1||424242\r"
        "PV1|1|O\r"
        "FT1|1|TX1||20240101|20240101|CG|93000^EKG^C4|||1|55&USD\r"
        "PR1|1||93000^EKG\r"
        "FT1|2|TX2||20240101|20240101|CG|80053^PANEL^C4|||1|120&USD\r"
        "DG1|1||I10^Hypertension"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    fin = doc["DFT_P03_FINANCIAL"]
    assert isinstance(fin, list) and len(fin) == 2
    assert fin[0]["FT1"]["FT1_2"] == "TX1"
    # FT1-11 CP: MO-typed first component split on '&'
    assert fin[0]["FT1"]["FT1_11"] == {"CP_1": {"MO_1": "55", "MO_2": "USD"}}
    proc = fin[0]["DFT_P03_FINANCIAL_PROCEDURE"]
    assert proc[0]["PR1"]["PR1_3"]["CE_1"] == "93000"
    assert fin[1]["FT1"]["FT1_11"] == {"CP_1": {"MO_1": "120", "MO_2": "USD"}}
    assert isinstance(doc["DG1"], list)


def test_bar_account_structure_nests():
    """BAR_P01 (r7): account-add messages nest the visit-scoped
    segments (diagnoses, procedures, insurance) under a repeating
    VISIT group — the account family residual named in COVERAGE."""
    msg = (
        "MSH|^~\\&|ADT|FAC|BILLING|FAC|20240101||BAR^P01|77|P|2.5\r"
        "EVN|P01|20240101\r"
        "PID|1||9001\r"
        "PV1|1|I\r"
        "DG1|1||E11^Diabetes\r"
        "PR1|1||0DTJ4ZZ^Appendectomy\r"
        "GT1|1|G1\r"
        "IN1|1|PLAN1"
    )  # conformant order: GT1 precedes INSURANCE in the v2.5 VISIT
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    visits = doc["BAR_P01_VISIT"]
    assert isinstance(visits, list) and len(visits) == 1
    v = visits[0]
    assert v["PV1"]["PV1_2"] == "I"
    assert v["DG1"][0]["DG1_3"]["CE_1"] == "E11"
    assert v["BAR_P01_PROCEDURE"][0]["PR1"]["PR1_3"]["CE_2"] == "Appendectomy"
    assert v["BAR_P01_INSURANCE"][0]["IN1"]["IN1_2"] == {"CE_1": "PLAN1"}
    assert v["GT1"][0]["GT1_2"] == [{"CX_1": "G1"}]


# ------------------------------------------- version-keyed grammar (r8)


def test_version_keyed_231_adt03_goldens():
    """adt03 declares 2.3.1 (VERDICT r7 ask #2 acceptance): the A31
    message keys race/ethnic-group as SINGLE CE dicts (repeatability
    is 2.4+), nests IN1 under the 2.3.1 per-trigger structure's own
    group spelling, and keeps MSH-9 the CM_MSG compound."""
    by_name = dict(MESSAGES)
    a31 = json.loads(parse_er7(by_name["adt03_AthenaHealth.txt#1"]))
    assert a31["MSH"]["MSH_9"] == {"CM_MSG_1": "ADT", "CM_MSG_2": "A31"}
    # 2.3.1 has the VID composite (introduced with MSH-9.3 in 2.3.1)
    assert a31["MSH"]["MSH_12"] == {"VID_1": "2.3.1"}
    pid = a31["PID"]
    # PID-10 race / PID-22 ethnic group: single-valued CE in 2.3.1
    # (the 2.5 grammar would emit one-element LISTS here)
    assert pid["PID_10"] == {"CE_1": "2028-9", "CE_2": "Asian"}
    assert pid["PID_22"] == {"CE_1": "2186-5",
                             "CE_2": "Not Hispanic or Latino"}
    # phones still repeat in 2.3.1: four XTN repetitions stay a list
    assert len(pid["PID_13"]) == 4
    ins = a31["ADT_A31_INSURANCE"]
    assert isinstance(ins, list) and isinstance(ins[0]["IN1"], dict)
    a40 = json.loads(parse_er7(by_name["adt03_AthenaHealth.txt#2"]))
    pat = a40["ADT_A40_PATIENT"]
    assert isinstance(pat, list) and "MRG" in pat[0] and "PID" in pat[0]


def test_version_keyed_27_datatype_goldens():
    """adt02 declares 2.7, which WITHDREW the CE and TS datatypes:
    timestamp fields are DTM primitives (plain leaves, where 2.5 wraps
    a one-key {TS_1} dict) and coded fields are CWE composites —
    including the IS code fields 2.7 promoted (PID-8 sex)."""
    by_name = dict(MESSAGES)
    adt02 = json.loads(parse_er7(by_name["adt02.txt#0"]))
    msh = adt02["MSH"]
    assert msh["MSH_7"] == "199908180016"  # DTM primitive -> leaf
    assert msh["MSH_9"] == {"MSG_1": "ADT", "MSG_2": "A04"}
    assert msh["MSH_12"] == {"VID_1": "2.7"}
    pid = adt02["PID"]
    assert pid["PID_7"] == "19880517180606"  # DTM leaf (TS_1 in 2.5)
    assert pid["PID_8"] == {"CWE_1": "M"}
    assert pid["PID_16"] == {"CWE_1": "S"}  # marital status CE->CWE
    # IN1-2 plan type: CE in 2.5, CWE in 2.7
    ins = adt02["ADT_A01_INSURANCE"][0]["IN1"]
    assert ins["IN1_2"] == {"CWE_1": "PRE2"}


def test_version_21_unsupported_dead_letters_strict():
    """lab03 declares HL7 2.1 — OUTSIDE hl7apy's supported set
    (2.2-2.8.x): the reference's parse_message raises
    UnsupportedVersion before any grammar walk and the message routes
    to the error zone (trigger_lambda.py:32-36). Strict mode mirrors
    that; lenient mode shapes flat under the union tables with 2.1
    datatypes (PN names — the XPN composite does not exist in 2.1)."""
    by_name = dict(MESSAGES)
    msg = by_name["lab03.txt#0"]
    assert parse_er7(msg, strict=True) is None
    doc = json.loads(parse_er7(msg))
    # no hl7apy 2.1 grammar -> no group nesting; flat union attachment
    assert "ORU_R01_RESPONSE" not in doc
    assert "ORU_R01_PATIENT_RESULT" not in doc
    assert isinstance(doc["OBX"], list) and len(doc["OBX"]) == 14
    # 2.1 names are PN (family^given, all-ST components), ids CK
    assert doc["PID"]["PID_5"] == {"PN_1": "TEST", "PN_2": "PATIENT"}
    assert doc["PID"]["PID_3"] == {"CK_1": "999999999"}
    assert doc["MSH"]["MSH_12"] == "2.1"  # ID leaf
    # OBR-16 ordering provider: CN in 2.1 (XCN postdates it)
    obr16 = doc["OBR"][0]["OBR_16"]
    assert obr16["CN_1"] == "M999999" and obr16["CN_8"] == "RACFID"


def test_version_fallback_unvendored_uses_base():
    """Versions hl7apy supports but this engine has no delta for
    (2.4/2.6/...) resolve to the 2.5 base tables — strict mode accepts
    them and the shape matches the 2.5 parse of the same wire."""
    wire = ("MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P|{v}\r"
            "PID|1||42||Last^First||19900101|M")
    v24 = parse_er7(wire.format(v="2.4"), strict=True)
    v25 = parse_er7(wire.format(v="2.5"), strict=True)
    assert v24 is not None and v25 is not None
    d24, d25 = json.loads(v24), json.loads(v25)
    d24["MSH"].pop("MSH_12"), d25["MSH"].pop("MSH_12")
    assert d24 == d25
    # absent MSH-12 also dead-letters strict (hl7apy cannot resolve a
    # grammar without a version) but parses leniently on the base
    nover = "MSH|^~\\&|A|B|C|D|20240101||ADT^A01|1|P\rPID|1||42"
    assert parse_er7(nover, strict=True) is None
    assert parse_er7(nover) is not None


def test_version_23_strict_rejects_25_only_segments():
    """A segment that postdates the declared version is unknown to
    that version's grammar — the reference raises ('not found in this
    version of HL7', parse_er7_lambda.py:35-38). SPM is 2.5+: a 2.3
    ORU carrying one dead-letters strict, while the same wire under
    2.5 is accepted."""
    wire = ("MSH|^~\\&|A|B|C|D|20240101||ORU^R01|1|P|{v}\r"
            "PID|1||42\r"
            "OBR|1\r"
            "OBX|1|ST|X||v\r"
            "SPM|1|S1")
    assert parse_er7(wire.format(v="2.3"), strict=True) is None
    assert parse_er7(wire.format(v="2.5"), strict=True) is not None
    # lenient 2.3 keeps the occurrence (union attachment, never lost)
    doc = json.loads(parse_er7(wire.format(v="2.3")))
    assert doc["SPM"]


def test_bar_sibling_triggers_nest():
    """r8 (VERDICT r7 ask #4): the BAR family's sibling triggers are
    vendored — an update-account P05 nests its visit content under
    BAR_P05_VISIT (with the P05-only ABS/BLC/RMI members accepted by
    strict mode), a purge P02 batches patients under repeating
    BAR_P02_PATIENT groups, and an end-account P06 under
    BAR_P06_PATIENT — instead of silently union-flattening."""
    p05 = (
        "MSH|^~\\&|ADT|FAC|BILLING|FAC|20240101||BAR^P05|1|P|2.5\r"
        "EVN|P05|20240101\r"
        "PID|1||9001\r"
        "PV1|1|I\r"
        "DG1|1||E11^Diabetes\r"
        "GT1|1|G1\r"
        "IN1|1|PLAN1\r"
        "ABS|DR^WHO\r"
        "BLC|WBL^Whole blood|2\r"
        "RMI|AC^Incident"
    )
    assert parse_er7(p05, strict=True) is not None
    doc = json.loads(parse_er7(p05))
    v = doc["BAR_P05_VISIT"][0]
    assert v["DG1"][0]["DG1_3"]["CE_1"] == "E11"
    assert v["BAR_P05_INSURANCE"][0]["IN1"]["IN1_2"] == {"CE_1": "PLAN1"}
    assert isinstance(v["ABS"], dict) and isinstance(v["RMI"], dict)
    assert isinstance(v["BLC"], list)

    p02 = (
        "MSH|^~\\&|ADT|FAC|BILLING|FAC|20240101||BAR^P02|2|P|2.5\r"
        "EVN|P02|20240101\r"
        "PID|1||9001\rPV1|1|I\r"
        "PID|2||9002\rPV1|1|O"
    )
    assert parse_er7(p02, strict=True) is not None
    doc2 = json.loads(parse_er7(p02))
    pats = doc2["BAR_P02_PATIENT"]
    assert len(pats) == 2
    assert pats[0]["PID"]["PID_3"] == [{"CX_1": "9001"}]
    assert pats[1]["PV1"]["PV1_2"] == "O"

    p06 = (
        "MSH|^~\\&|ADT|FAC|BILLING|FAC|20240101||BAR^P06|3|P|2.5\r"
        "EVN|P06|20240101\r"
        "PID|1||9001\rPV1|1|I"
    )
    assert parse_er7(p06, strict=True) is not None
    doc3 = json.loads(parse_er7(p06))
    assert doc3["BAR_P06_PATIENT"][0]["PID"]["PID_3"] == [{"CX_1": "9001"}]


def test_orr_order_response_nests():
    """r8 (ask #4): ORR^O02 — the response half of the ORM order
    round-trip — nests MSA/ERR at message level and each responded
    order's ORC + CHOICE detail under ORR_O02_RESPONSE/ORDER groups."""
    msg = (
        "MSH|^~\\&|LIS|FAC|CPOE|FAC|20240101||ORR^O02|99|P|2.5\r"
        "MSA|AA|77\r"
        "PID|1||4711\r"
        "ORC|OK|ORD1\r"
        "OBR|1|ORD1||93000^EKG\r"
        "ORC|OK|ORD2\r"
        "RXO|DRUG^Aspirin|325||MG"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert doc["MSA"]["MSA_1"] == "AA"
    resp = doc["ORR_O02_RESPONSE"]
    assert isinstance(resp, dict)
    assert resp["ORR_O02_PATIENT"]["PID"]["PID_3"] == [{"CX_1": "4711"}]
    orders = resp["ORR_O02_ORDER"]
    assert len(orders) == 2
    assert orders[0]["ORR_O02_CHOICE"]["OBR"]["OBR_4"]["CE_1"] == "93000"
    assert orders[1]["ORR_O02_CHOICE"]["RXO"]["RXO_1"]["CE_2"] == "Aspirin"


def test_rde_pharmacy_order_nests():
    """r9 (VERDICT r8 ask #4): RDE^O11 pharmacy encoded orders — the
    highest-traffic hospital family not previously vendored — nest the
    PATIENT header and each repeating ORDER group (ORC + RXO
    ORDER_DETAIL with its COMPONENT subgroup + the mandatory RXE +
    encoded timing/route + OBSERVATION) under RDE_O11_* groups. The
    greedy walk must attribute the TQ1/RXR/RXC occurrences BEFORE RXE
    to the order detail and the ones AFTER to the encoded order."""
    msg = (
        "MSH|^~\\&|CPOE|FAC|RX|FAC|20240101||RDE^O11|501|P|2.5\r"
        "PID|1||7001^^^MRN\r"
        "PV1|1|I|ICU\r"
        "IN1|1|PLAN9\r"
        "ORC|NW|RX1\r"
        "TQ1|1|1^tab\r"
        "RXO|00054^Acetaminophen|325||MG\r"
        "NTE|1||crush ok\r"
        "RXR|PO^Oral\r"
        "RXC|B|00055^Caffeine|30|MG\r"
        "RXE|^^^20240101|00054^Acetaminophen|325||MG|||||||10\r"
        "TQ1|1|1^tab|QID\r"
        "RXR|PO^Oral\r"
        "OBX|1|NM|WT^Weight||80|kg\r"
        "BLG|D\r"
        "ORC|NW|RX2\r"
        "RXE|^^^20240102|00099^Ibuprofen|200||MG\r"
        "RXR|PO^Oral"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    pat = doc["RDE_O11_PATIENT"]
    assert pat["PID"]["PID_3"] == [
        {"CX_1": "7001", "CX_2": "", "CX_3": "", "CX_4": "MRN"}
    ]
    assert pat["RDE_O11_PATIENT_VISIT"]["PV1"]["PV1_2"] == "I"
    assert pat["RDE_O11_INSURANCE"][0]["IN1"]["IN1_2"] == {"CE_1": "PLAN9"}
    orders = doc["RDE_O11_ORDER"]
    assert len(orders) == 2
    o1 = orders[0]
    # pre-RXE members land in TIMING / ORDER_DETAIL
    assert o1["RDE_O11_TIMING"][0]["TQ1"]["TQ1_2"] == {
        "CQ_1": "1", "CQ_2": "tab"
    }
    det = o1["RDE_O11_ORDER_DETAIL"]
    assert det["RXO"]["RXO_1"]["CE_2"] == "Acetaminophen"
    assert det["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]
    assert det["RDE_O11_COMPONENT"][0]["RXC"]["RXC_2"]["CE_2"] == "Caffeine"
    # post-RXE members land in the encoded groups
    assert o1["RXE"]["RXE_2"]["CE_2"] == "Acetaminophen"
    assert o1["RXE"]["RXE_12"] == "10"
    # TQ1-3 (repeat pattern) is declared repeatable: singleton -> list
    assert o1["RDE_O11_TIMING_ENCODED"][0]["TQ1"]["TQ1_3"] == [
        {"RPT_1": "QID"}
    ]
    assert o1["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]
    assert o1["RDE_O11_OBSERVATION"][0]["OBX"]["OBX_5"] == ["80"]
    assert o1["BLG"]["BLG_1"] == {"CCD_1": "D"}
    # second order: bare encoded order, no detail group
    o2 = orders[1]
    assert "RDE_O11_ORDER_DETAIL" not in o2
    assert o2["RXE"]["RXE_2"]["CE_2"] == "Ibuprofen"
    assert o2["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]


def test_ras_administration_nests():
    """r9 (ask #4): RAS^O17 pharmacy administrations — repeating
    ADMINISTRATION groups whose RXA itself repeats (multi-component
    given doses share one RXR route), after an optional ENCODED_ORDER
    group."""
    msg = (
        "MSH|^~\\&|MAR|FAC|RX|FAC|20240101||RAS^O17|601|P|2.5\r"
        "PID|1||7002\r"
        "ORC|RE|RX1\r"
        "RXE|^^^20240101|00054^Acetaminophen|325||MG\r"
        "RXR|PO^Oral\r"
        "RXA|0|1|20240101080000|20240101080000|00054^Acetaminophen|325|MG\r"
        "RXA|0|2|20240101140000|20240101140000|00054^Acetaminophen|325|MG\r"
        "RXR|PO^Oral\r"
        "OBX|1|ST|NOTE^Note||given late"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    orders = doc["RAS_O17_ORDER"]
    assert len(orders) == 1
    o = orders[0]
    enc = o["RAS_O17_ENCODED_ORDER"]
    assert enc["RXE"]["RXE_2"]["CE_2"] == "Acetaminophen"
    assert enc["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]
    admins = o["RAS_O17_ADMINISTRATION"]
    assert len(admins) == 1
    a = admins[0]
    assert [x["RXA_2"] for x in a["RXA"]] == ["1", "2"]
    assert a["RXR"]["RXR_1"] == {"CE_1": "PO", "CE_2": "Oral"}
    assert a["RAS_O17_OBSERVATION"][0]["OBX"]["OBX_5"] == ["given late"]


def test_rde_strict_mode_parity():
    """Strict-mode parity for the new family (the BAR/ORR r8
    discipline): every RDE/RAS segment is version-known (no
    dead-letter for a legal pharmacy feed), a duplicated max-1 RXE
    within one ORDER still parses leniently (data wins) but the
    grammar keeps per-order RXE max-1, and an unsupported declared
    version still dead-letters regardless of family."""
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    g = grammar_for("2.5")
    for seg in ("RXE", "RXC", "RXR", "RXA", "RXO"):
        assert g.is_known(seg), seg
    assert g.structure_for("RDE", "O11", None) == "RDE_O11"
    assert g.structure_for("RAS", "O17", None) == "RAS_O17"
    # explicit MSH-9.3 wins too
    assert g.structure_for("RDE", "O11", "RDE_O11") == "RDE_O11"
    # unsupported version: strict dead-letter before any grammar walk
    msg21 = (
        "MSH|^~\\&|CPOE|FAC|RX|FAC|20240101||RDE^O11|1|P|2.1\r"
        "PID|1||7001\rORC|NW|RX1\rRXE|^^^X|00054^APAP|325||MG"
    )
    assert parse_er7(msg21, strict=True) is None
    assert parse_er7(msg21) is not None  # lenient keeps the data


def test_rds_dispense_nests():
    """r9: RDS^O13 pharmacy dispense — the ORDER group centers on the
    mandatory RXD dispense record after the optional RXE ENCODING
    group; the RXR before RXD belongs to ENCODING (greedy pre/post
    split), the one after to the dispense itself. RXD-9 dispense
    notes are declared repeatable (singleton -> list)."""
    msg = (
        "MSH|^~\\&|PHARM|FAC|HIS|FAC|20240101||RDS^O13|701|P|2.5\r"
        "PID|1||7003\r"
        "ORC|RE|RX9\r"
        "RXE|^^^20240101|00054^Acetaminophen|325||MG\r"
        "RXR|PO^Oral\r"
        "RXD|1|00054^Acetaminophen|20240102|30|TAB||RX9-1|2|partial fill\r"
        "RXR|PO^Oral\r"
        "OBX|1|ST|CHK^Check||ok"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    orders = doc["RDS_O13_ORDER"]
    assert len(orders) == 1
    o = orders[0]
    assert o["RDS_O13_ENCODING"]["RXE"]["RXE_2"]["CE_2"] == "Acetaminophen"
    assert o["RDS_O13_ENCODING"]["RXR"] == [
        {"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}
    ]
    rxd = o["RXD"]
    assert rxd["RXD_4"] == "30"
    assert rxd["RXD_7"] == "RX9-1"
    assert rxd["RXD_9"] == ["partial fill"]  # repeatable field
    assert o["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]
    assert o["RDS_O13_OBSERVATION"][0]["OBX"]["OBX_5"] == ["ok"]


def test_omd_dietary_order_nests():
    """r9: OMD^O03 dietary orders — repeating ORDER_DIET groups whose
    DIET subgroup carries the repeating ODS diet specifications plus
    observations, then ORDER_TRAY groups with ODT tray instructions.
    GREEDY-ATTRIBUTION NOTE (pinned deliberately): an ORC that begins
    a tray order is indistinguishable from one beginning a new diet
    order at match time (every later DIET member is optional), so the
    greedy in-order walk — like hl7apy's ordered assembly — attaches
    it to a second ORDER_DIET instance and the ORDER_TRAY group keeps
    the ODT itself. The data is all present; only the wrapper of the
    bare tray ORC is ambiguous per the standard's own grammar."""
    msg = (
        "MSH|^~\\&|CPOE|FAC|DIET|FAC|20240101||OMD^O03|801|P|2.5\r"
        "PID|1||7004\r"
        "ORC|NW|D1\r"
        "TQ1|1|1^serving\r"
        "ODS|D|1200^Low Sodium\r"
        "ODS|D|CAL1800^1800 Calorie\r"
        "OBX|1|NM|WT^Weight||72|kg\r"
        "ORC|NW|T1\r"
        "ODT|EARLY^Early Tray"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    diets = doc["OMD_O03_ORDER_DIET"]
    assert len(diets) == 2  # the bare tray ORC opens instance 2 (see note)
    d1 = diets[0]
    assert d1["OMD_O03_TIMING_DIET"][0]["TQ1"]["TQ1_2"] == {
        "CQ_1": "1", "CQ_2": "serving"
    }
    ods = d1["OMD_O03_DIET"]["ODS"]
    assert [x["ODS_2"][0]["CE_2"] for x in ods] == [
        "Low Sodium", "1800 Calorie"
    ]
    assert d1["OMD_O03_DIET"]["OMD_O03_OBSERVATION"][0]["OBX"]["OBX_5"] == [
        "72"
    ]
    assert diets[1]["ORC"]["ORC_2"] == {"EI_1": "T1"}
    trays = doc["OMD_O03_ORDER_TRAY"]
    assert trays[0]["ODT"] == [
        {"ODT_1": {"CE_1": "EARLY", "CE_2": "Early Tray"}}
    ]


def test_rre_pharmacy_response_nests():
    """r9: RRE^O12 — the pharmacy acknowledgment closing the RDE
    round-trip (the RDE analog of ORM->ORR): MSA at message level,
    acknowledged orders' ORC + RXE encoded detail under
    RRE_O12_RESPONSE/ORDER/ENCODING groups."""
    msg = (
        "MSH|^~\\&|RX|FAC|CPOE|FAC|20240101||RRE^O12|901|P|2.5\r"
        "MSA|AA|501\r"
        "PID|1||7001\r"
        "ORC|OK|RX1\r"
        "RXE|^^^20240101|00054^Acetaminophen|325||MG\r"
        "RXR|PO^Oral\r"
        "ORC|OK|RX2\r"
        "RXE|^^^20240102|00099^Ibuprofen|200||MG"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert doc["MSA"] == {"MSA_1": "AA", "MSA_2": "501"}
    resp = doc["RRE_O12_RESPONSE"]
    assert resp["RRE_O12_PATIENT"]["PID"]["PID_3"] == [{"CX_1": "7001"}]
    orders = resp["RRE_O12_ORDER"]
    assert len(orders) == 2
    assert orders[0]["RRE_O12_ENCODING"]["RXE"]["RXE_2"]["CE_2"] == (
        "Acetaminophen"
    )
    assert orders[0]["RRE_O12_ENCODING"]["RXR"] == [
        {"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}
    ]
    assert orders[1]["RRE_O12_ENCODING"]["RXE"]["RXE_2"]["CE_2"] == (
        "Ibuprofen"
    )


def test_oms_stock_requisition_nests():
    """r10 (VERDICT r9 ask #4): OMS^O05 stock requisitions — optional
    PATIENT header, then repeating ORDER groups around the mandatory
    RQD requisition detail with optional RQ1 supplier detail,
    OBSERVATION subgroups, and billing."""
    msg = (
        "MSH|^~\\&|MM|FAC|SUP|FAC|20240101||OMS^O05|42|P|2.5\r"
        "PID|1||9001\r"
        "PV1|1|I\r"
        "ORC|NW|REQ1\r"
        "TQ1|1\r"
        "RQD|1|GAUZE^Sterile Gauze|||10\r"
        "RQ1|BOX\r"
        "OBX|1|NM|QTY^OnHand||3\r"
        "BLG|D\r"
        "ORC|NW|REQ2\r"
        "RQD|2|SALINE^Saline|||5"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    pat = doc["OMS_O05_PATIENT"]
    assert pat["PID"]["PID_3"] == [{"CX_1": "9001"}]
    assert pat["OMS_O05_PATIENT_VISIT"]["PV1"]["PV1_2"] == "I"
    orders = doc["OMS_O05_ORDER"]
    assert len(orders) == 2
    o1 = orders[0]
    assert o1["OMS_O05_TIMING"][0]["TQ1"]["TQ1_1"] == "1"
    assert o1["RQD"]["RQD_2"] == {"CE_1": "GAUZE", "CE_2": "Sterile Gauze"}
    assert o1["RQ1"]["RQ1_1"] == "BOX"
    assert o1["OMS_O05_OBSERVATION"][0]["OBX"]["OBX_5"] == ["3"]
    assert o1["BLG"]["BLG_1"] == {"CCD_1": "D"}
    # second order: bare requisition, no RQ1/observation
    assert orders[1]["RQD"]["RQD_2"]["CE_1"] == "SALINE"
    assert "RQ1" not in orders[1]


def test_omg_general_order_prior_result_nests():
    """r10 (ask #4): OMG^O19 general clinical orders — the deepest
    vendored nesting (4 group levels): per-order observations and
    specimens, then the PRIOR_RESULT group whose second PID/PV1/OBR/
    OBX occurrences must attach under the *_PRIOR groups (greedy walk
    position is past the order's own members by then)."""
    msg = (
        "MSH|^~\\&|CPOE|FAC|LAB|FAC|20240101||OMG^O19|43|P|2.5\r"
        "PID|1||9002\r"
        "PV1|1|O\r"
        "ORC|NW|GEN1\r"
        "TQ1|1\r"
        "OBR|1|GEN1||93000^EKG\r"
        "DG1|1||I10^Hypertension\r"
        "OBX|1|NM|HR^HeartRate||72\r"
        "SPM|1|S1\r"
        "OBX|2|NM|VOL^Volume||5\r"
        "PID|1||9002\r"
        "PV1|2|I\r"
        "ORC|OK|OLD1\r"
        "OBR|1|OLD1||93000^EKG\r"
        "OBX|1|NM|HR^HeartRate||80\r"
        "FT1|1\r"
        "BLG|D"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert doc["OMG_O19_PATIENT"]["PID"]["PID_3"] == [{"CX_1": "9002"}]
    orders = doc["OMG_O19_ORDER"]
    assert len(orders) == 1
    o = orders[0]
    assert o["OBR"]["OBR_4"]["CE_1"] == "93000"
    assert o["DG1"][0]["DG1_3"]["CE_2"] == "Hypertension"
    assert o["OMG_O19_OBSERVATION"][0]["OBX"]["OBX_5"] == ["72"]
    # the OBX after SPM attaches to the SPECIMEN group, not OBSERVATION
    spec = o["OMG_O19_SPECIMEN"][0]
    assert spec["SPM"]["SPM_1"] == "1"
    assert spec["OBX"] == [
        {"OBX_1": "2", "OBX_2": "NM",
         "OBX_3": {"CE_1": "VOL", "CE_2": "Volume"}, "OBX_5": ["5"]}
    ]
    prior = o["OMG_O19_PRIOR_RESULT"][0]
    assert prior["OMG_O19_PATIENT_PRIOR"]["PID"]["PID_3"] == [
        {"CX_1": "9002"}
    ]
    assert prior["OMG_O19_PATIENT_VISIT_PRIOR"]["PV1"]["PV1_2"] == "I"
    po = prior["OMG_O19_ORDER_PRIOR"][0]
    assert po["ORC"]["ORC_1"] == "OK"
    assert po["OMG_O19_OBSERVATION_PRIOR"][0]["OBX"]["OBX_5"] == ["80"]
    # post-prior members re-attach to the outer ORDER group
    assert o["FT1"] == [{"FT1_1": "1"}]
    assert o["BLG"]["BLG_1"] == {"CCD_1": "D"}


def test_rra_administration_ack_nests():
    """r10 (ask #4): RRA^O18 answers RAS^O17 — RESPONSE group orders
    carry an ADMINISTRATION group with repeating RXA given-doses
    sharing one RXR route (mirroring RAS's shape)."""
    msg = (
        "MSH|^~\\&|RX|FAC|MAR|FAC|20240101||RRA^O18|44|P|2.5\r"
        "MSA|AA|601\r"
        "PID|1||7002\r"
        "ORC|RE|RX1\r"
        "RXA|0|1|20240101||00054^Acetaminophen|325|MG\r"
        "RXA|0|2|20240101||00054^Acetaminophen|325|MG\r"
        "RXR|PO^Oral"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert doc["MSA"] == {"MSA_1": "AA", "MSA_2": "601"}
    resp = doc["RRA_O18_RESPONSE"]
    assert resp["RRA_O18_PATIENT"]["PID"]["PID_3"] == [{"CX_1": "7002"}]
    orders = resp["RRA_O18_ORDER"]
    assert len(orders) == 1
    adm = orders[0]["RRA_O18_ADMINISTRATION"]
    assert isinstance(adm, dict)  # max-1 group within ORDER
    assert len(adm["RXA"]) == 2  # RXA repeats within it
    assert adm["RXA"][1]["RXA_2"] == "2"
    assert adm["RXR"]["RXR_1"] == {"CE_1": "PO", "CE_2": "Oral"}


def test_rrd_dispense_ack_nests():
    """r10 (ask #4): RRD^O14 answers RDS^O13 — the DISPENSE group
    centers on one RXD with repeating routes/components."""
    msg = (
        "MSH|^~\\&|RX|FAC|WARD|FAC|20240101||RRD^O14|45|P|2.5\r"
        "MSA|AE|701\r"
        "ERR|207\r"
        "PID|1||7003\r"
        "ORC|RE|RX9\r"
        "TQ1|1\r"
        "RXD|1|00054^Acetaminophen|20240101|30\r"
        "RXR|PO^Oral\r"
        "RXC|B|00055^Caffeine|30|MG"
    )
    assert parse_er7(msg, strict=True) is not None
    doc = json.loads(parse_er7(msg))
    assert doc["MSA"]["MSA_1"] == "AE"
    assert doc["ERR"][0]["ERR_1"] == [{"ELD_1": "207"}]
    resp = doc["RRD_O14_RESPONSE"]
    orders = resp["RRD_O14_ORDER"]
    assert orders[0]["RRD_O14_TIMING"][0]["TQ1"]["TQ1_1"] == "1"
    disp = orders[0]["RRD_O14_DISPENSE"]
    assert disp["RXD"]["RXD_2"]["CE_2"] == "Acetaminophen"
    assert disp["RXD"]["RXD_4"] == "30"
    assert disp["RXR"] == [{"RXR_1": {"CE_1": "PO", "CE_2": "Oral"}}]
    assert disp["RXC"][0]["RXC_2"]["CE_2"] == "Caffeine"


def test_r10_families_strict_mode_parity():
    """Strict-mode parity for the r10 families (the RDE r9
    discipline): every segment version-known, event->structure rows
    resolve, explicit MSH-9.3 wins, and an unsupported declared
    version still dead-letters regardless of family."""
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    g = grammar_for("2.5")
    for mt, trig, structure in (
        ("OMS", "O05", "OMS_O05"), ("OMG", "O19", "OMG_O19"),
        ("RRA", "O18", "RRA_O18"), ("RRD", "O14", "RRD_O14"),
    ):
        assert g.structure_for(mt, trig, None) == structure
        assert g.structure_for(mt, trig, structure) == structure
    msg21 = (
        "MSH|^~\\&|MM|FAC|SUP|FAC|20240101||OMS^O05|1|P|2.1\r"
        "PID|1||9001\rORC|NW|R1\rRQD|1|GAUZE"
    )
    assert parse_er7(msg21, strict=True) is None
    assert parse_er7(msg21) is not None  # lenient keeps the data


def test_embedded_corpus_matches_asset_files():
    """hl7.corpus embeds the tests/assets/messages files as package
    data (r11) so the corpus-pinned registry query runs without the
    tests tree; this guard fails if either side drifts."""
    from hcls_data_lake_spark.hl7 import corpus as pkg_corpus

    on_disk = {
        fname: open(os.path.join(ASSETS, fname), encoding="utf-8").read()
        for fname in sorted(os.listdir(ASSETS))
    }
    assert pkg_corpus.CORPUS_FILES == on_disk
    assert pkg_corpus.corpus_messages() == MESSAGES


def test_qbp_rsp_query_protocol_goldens():
    """r11 (VERDICT r10 ask #4): QBP^Q11 / RSP^K11 — the v2.5 ch.5
    query protocol, the wire-level analog of the reference's retrieval
    API (A19). Strict mode must accept both; shapes follow the
    vendored grammar: QPD-1 CE, QPD-3+ C<n> fallback (profile-defined
    parameters never mint keys), RCP-6 repeatable SRT list, RCP-7
    repeatable ID list, QAK typed fields."""
    qbp = (
        "MSH|^~\\&|HIS|FAC|LAKE|DC|20240101120000||QBP^Q11^QBP_Q11|Q123|P|2.5\r"
        "QPD|IHE PDQ Query^Q22|QRY123|@PID.3.1^78912\r"
        "RCP|I|10^RD|R|||PID.3^ascending~PID.5^ascending|PID~PV1"
    )
    doc = json.loads(parse_er7(qbp, strict=True))
    assert doc["MSH"]["MSH_9"] == {
        "MSG_1": "QBP", "MSG_2": "Q11", "MSG_3": "QBP_Q11",
    }
    qpd = doc["QPD"]
    assert qpd["QPD_1"] == {"CE_1": "IHE PDQ Query", "CE_2": "Q22"}
    assert qpd["QPD_2"] == "QRY123"
    # QPD-3 is query-profile-defined -> C<n> fallback, never typed keys
    assert qpd["QPD_3"] == {"C1": "@PID.3.1", "C2": "78912"}
    rcp = doc["RCP"]
    assert rcp["RCP_1"] == "I"
    assert rcp["RCP_2"] == {"CQ_1": "10", "CQ_2": "RD"}
    # RCP-6 sort-by repeats as SRT composites; RCP-7 repeats as IDs
    assert rcp["RCP_6"] == [
        {"SRT_1": "PID.3", "SRT_2": "ascending"},
        {"SRT_1": "PID.5", "SRT_2": "ascending"},
    ]
    assert rcp["RCP_7"] == ["PID", "PV1"]

    rsp = (
        "MSH|^~\\&|LAKE|DC|HIS|FAC|20240101120001||RSP^K11^RSP_K11|R456|P|2.5\r"
        "MSA|AA|Q123\r"
        "QAK|QRY123|OK|IHE PDQ Query^Q22|3|3|0\r"
        "QPD|IHE PDQ Query^Q22|QRY123|@PID.3.1^78912"
    )
    rdoc = json.loads(parse_er7(rsp, strict=True))
    assert rdoc["MSA"] == {"MSA_1": "AA", "MSA_2": "Q123"}
    qak = rdoc["QAK"]
    assert qak["QAK_1"] == "QRY123" and qak["QAK_2"] == "OK"
    assert qak["QAK_3"] == {"CE_1": "IHE PDQ Query", "CE_2": "Q22"}
    assert (qak["QAK_4"], qak["QAK_5"], qak["QAK_6"]) == ("3", "3", "0")
    # the response echoes the query's QPD verbatim
    assert rdoc["QPD"] == doc["QPD"]


def test_qbp_pre24_version_dead_letters_in_strict():
    """QPD/QAK/RCP arrived with the v2.4 query framework: a message
    declaring 2.3 must dead-letter in strict mode (hl7apy's versioned
    grammar would not know the segments) while staying parseable on
    the lenient path (never lose data)."""
    qbp_23 = (
        "MSH|^~\\&|HIS|FAC|LAKE|DC|20240101120000||QBP^Q11|Q1|P|2.3\r"
        "QPD|Q^Q22|QT1|@PID.3.1^1\r"
        "RCP|I"
    )
    assert parse_er7(qbp_23, strict=True) is None
    lenient = json.loads(parse_er7(qbp_23))
    # unknown-to-2.3 segment -> data-driven list attachment (the
    # never-lose-data shape for segments outside the versioned grammar)
    assert lenient["QPD"][0]["QPD_2"] == "QT1"


def test_qbp_rsp_structure_resolution():
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    g = grammar_for(None)

    assert g.structure_for("QBP", "Q11", None) == "QBP_Q11"
    assert g.structure_for("RSP", "K11", None) == "RSP_K11"
    assert g.structure_tree("QBP_Q11") is not None
    assert g.structure_tree("RSP_K11") is not None


@pytest.mark.parametrize("version", [None, "2.1", "2.3", "2.3.1", "2.7"])
def test_every_resolved_structure_has_a_tree(version):
    """The structure trees are the only per-structure shape source: any
    structure a message can resolve to (an event->structure target, or
    ACK) has a tree, so the flat union attachment only ever runs for a
    message that resolved to no structure at all."""
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    g = grammar_for(version)
    for event, structure in g.event_structure.items():
        mt, trig = event.split("_")
        assert g.structure_for(mt, trig, None) == structure
        assert g.structure_tree(structure) is not None, (version, event)
        assert g.structure_for(mt, trig, structure) == structure
    ack = g.structure_for("ACK", "A01", None)
    if ack is not None:
        assert g.structure_tree(ack) is not None, version


def test_mfn_master_file_goldens():
    """r11 breadth: MFN^M01 master-file notification (ch.8) — MFI file
    header + one MF group per MFE record; MFE-4 is the profile-defined
    'varies' primary key and keeps the C<n> fallback, MFE-4/5 repeat."""
    mfn = (
        "MSH|^~\\&|MFS|FAC|EHR|DC|20240101||MFN^M01^MFN_M01|M1|P|2.5\r"
        "MFI|PRA^Practitioner|HOSP|UPD|20240101|20240102|NE\r"
        "MFE|MAD|C1|20240101|DOC001^Smith|CE\r"
        "MFE|MUP|C2|20240101|DOC002^Jones|CE"
    )
    doc = json.loads(parse_er7(mfn, strict=True))
    mfi = doc["MFI"]
    assert mfi["MFI_1"] == {"CE_1": "PRA", "CE_2": "Practitioner"}
    assert mfi["MFI_3"] == "UPD" and mfi["MFI_6"] == "NE"
    recs = doc["MFN_M01_MF"]
    assert [r["MFE"]["MFE_1"] for r in recs] == ["MAD", "MUP"]
    assert recs[0]["MFE"]["MFE_4"] == [{"C1": "DOC001", "C2": "Smith"}]
    assert recs[0]["MFE"]["MFE_5"] == ["CE"]


def test_srm_srr_scheduling_request_goldens():
    """r11 breadth: SRM^S01 request (ARQ + APR preferences + resource
    groups) and SRR^S01 response (MSA + granted SCHEDULE). APR's SCV
    criteria repeat; the resource subgroups nest like the SIU family;
    sibling triggers resolve to the same structure."""
    from hcls_data_lake_spark.hl7.grammar import grammar_for

    g = grammar_for(None)

    srm = (
        "MSH|^~\\&|CLINIC|FAC|SCHED|DC|20240101||SRM^S01^SRM_S01|R1|P|2.5\r"
        "ARQ|A100^PLACER||1||||REQ^Routine||1|^once"
        "|20240115090000^20240115100000\r"
        "APR|PREF^morning~ALT^tuesday|RES^any\r"
        "PID|1||P7^^^MRN\r"
        "RGS|1\r"
        "AIS|1|A|EXAM^Office Visit\r"
        "APR|TIME^am\r"
        "AIP|1|A|DOC001^Smith^John|ATT"
    )
    d = json.loads(parse_er7(srm, strict=True))
    assert d["ARQ"]["ARQ_1"] == {"EI_1": "A100", "EI_2": "PLACER"}
    # ARQ-11 requested range repeats -> singleton list of DR dicts
    assert d["ARQ"]["ARQ_11"] == [
        {"DR_1": "20240115090000", "DR_2": "20240115100000"}
    ]
    # message-level APR: repeating SCV criteria
    assert d["APR"]["APR_1"] == [
        {"SCV_1": "PREF", "SCV_2": "morning"},
        {"SCV_1": "ALT", "SCV_2": "tuesday"},
    ]
    res = d["SRM_S01_RESOURCES"][0]
    svc = res["SRM_S01_SERVICE"][0]
    assert svc["AIS"]["AIS_3"] == {"CE_1": "EXAM", "CE_2": "Office Visit"}
    # the group-scoped APR binds to its service, not the message level
    assert svc["APR"]["APR_1"] == [{"SCV_1": "TIME", "SCV_2": "am"}]
    aip = res["SRM_S01_PERSONNEL_RESOURCE"][0]["AIP"]
    assert aip["AIP_3"]["XCN_2"] == "Smith"

    srr = (
        "MSH|^~\\&|SCHED|DC|CLINIC|FAC|20240101||SRR^S01^SRR_S01|R2|P|2.5\r"
        "MSA|AA|R1\r"
        "SCH|A100^PLACER|F200^FILLER|||||REQ^Routine|ROUTINE\r"
        "PID|1||P7^^^MRN\r"
        "RGS|1\r"
        "AIS|1|A|EXAM^Office Visit"
    )
    r = json.loads(parse_er7(srr, strict=True))
    assert r["MSA"] == {"MSA_1": "AA", "MSA_2": "R1"}
    sched = r["SRR_S01_SCHEDULE"]
    assert sched["SCH"]["SCH_2"] == {"EI_1": "F200", "EI_2": "FILLER"}
    assert sched["SRR_S01_PATIENT"][0]["PID"]["PID_3"] == [
        {"CX_1": "P7", "CX_2": "", "CX_3": "", "CX_4": "MRN"}
    ]

    # sibling triggers share the structure (SIU-family convention)
    assert g.structure_for("SRM", "S03", None) == "SRM_S01"
    assert g.structure_for("SRR", "S04", None) == "SRR_S01"
    assert g.structure_for("MFN", "M01", None) == "MFN_M01"


# ------------------------------------------------- batch de-framing (r12)


def test_batch_deframe_explicit_frame_and_reconciliation():
    from hcls_data_lake_spark.hl7.batch import _deframe_rows

    content = "\r".join([
        "FHS|^~\\&|APP|FAC|||20200101||F1",
        "BHS|^~\\&|APP|FAC|||20200101||B0",
        "MSH|^~\\&|APP|FAC|R|RF|20200101||ADT^A01|C1|P|2.5",
        "PID|1||P1",
        "MSH|^~\\&|APP|FAC|R|RF|20200101||ADT^A01|C2|P|2.5",
        "PID|1||P2",
        "OBX|1|NM|X||1",
        "BTS|2|ok batch",
        "BHS|^~\\&|APP|FAC|||20200101||B1",
        "MSH|^~\\&|APP|FAC|R|RF|20200101||ADT^A01|C3|P|2.5",
        "BTS|5|declared wrong",
        "FTS|2|END",
    ])
    rows = _deframe_rows(content)
    assert [r["control_id"] for r in rows] == ["C1", "C2", "C3"]
    assert [r["n_segments"] for r in rows] == [2, 3, 1]
    assert [r["msg_seq"] for r in rows] == [0, 1, 2]
    b0 = rows[0]
    assert (b0["batch_declared"], b0["batch_actual"], b0["batch_ok"]) == (
        2, 2, True,
    )
    b1 = rows[2]
    assert (b1["batch_declared"], b1["batch_actual"], b1["batch_ok"]) == (
        5, 1, False,
    )
    for r in rows:
        assert (r["file_declared"], r["file_actual"], r["file_ok"]) == (
            2, 2, True,
        )
    assert [r["accepted"] for r in rows] == [True, True, False]


def test_batch_deframe_implicit_batch_lab02_shape():
    """The reference's messages/lab02.txt frame: bare MSH messages,
    no BHS/BTS, closed by FTS|1 — one implicit batch, unchecked
    batch count, reconciled file count."""
    from hcls_data_lake_spark.hl7.batch import _deframe_rows
    from hcls_data_lake_spark.hl7.corpus import CORPUS_FILES

    rows = _deframe_rows(CORPUS_FILES["lab02.txt"])
    assert len(rows) == 1
    r = rows[0]
    assert r["control_id"] == "P1055–0000047907"
    assert r["batch_index"] == 0 and r["msg_index"] == 0
    assert r["batch_declared"] is None and r["batch_ok"] is True
    assert (r["file_declared"], r["file_actual"], r["file_ok"]) == (
        1, 1, True,
    )
    assert r["accepted"] is True
    # the FTS line itself must not leak into the message body
    assert "FTS" not in r["message"]
    assert r["n_segments"] == r["message"].count("\r") + 1


def test_batch_deframe_edge_frames():
    from hcls_data_lake_spark.hl7.batch import _deframe_rows

    # no trailers anywhere: both checks unchecked -> accepted
    rows = _deframe_rows(
        "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|X1|P|2.5\nPID|1"
    )
    assert len(rows) == 1 and rows[0]["accepted"] is True
    assert rows[0]["file_declared"] is None
    # BHS without BTS (missing trailer): batch closes at FTS, count
    # unchecked; FTS declared mismatch flips file_ok for every row
    rows = _deframe_rows("\r".join([
        "BHS|^~\\&|A|F",
        "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|Y1|P|2.5",
        "FTS|3|END",
    ]))
    assert rows[0]["batch_ok"] is True
    assert rows[0]["file_ok"] is False and rows[0]["accepted"] is False
    # stray BTS opens-and-closes an EMPTY batch (visible null row)
    rows = _deframe_rows("BTS|0|stray")
    assert len(rows) == 1
    assert rows[0]["message"] is None and rows[0]["batch_actual"] == 0
    assert rows[0]["batch_declared"] == 0 and rows[0]["batch_ok"] is True
    # non-numeric declared count can never reconcile
    rows = _deframe_rows("\r".join([
        "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|Z1|P|2.5",
        "BTS|lots|bad count",
    ]))
    assert rows[0]["batch_ok"] is False and rows[0]["accepted"] is False
    # blank declared count = unchecked per the standard
    rows = _deframe_rows("\r".join([
        "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|Z2|P|2.5",
        "BTS||no count",
    ]))
    assert rows[0]["batch_declared"] is None and rows[0]["batch_ok"] is True
    # CRLF + LF mixed endings normalize
    rows = _deframe_rows(
        "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|W1|P|2.5\r\nPID|1\nOBX|1"
    )
    assert rows[0]["n_segments"] == 3


def test_batch_deframe_spark_operator(spark):
    from hcls_data_lake_spark.hl7.batch import hl7_batch_deframe

    files = spark.createDataFrame(
        [
            ("f1", "\r".join([
                "BHS|^~\\&|A|F",
                "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|C1|P|2.5",
                "PID|1",
                "BTS|1",
            ])),
            ("f2", "\r".join([
                "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|C2|P|2.5",
                "MSH|^~\\&|A|F|R|RF|20200101||ADT^A01|C3|P|2.5",
                "FTS|9",
            ])),
        ],
        "file_id string, content string",
    )
    out = hl7_batch_deframe(files).orderBy("file_id", "msg_seq")
    rows = out.collect()
    assert [r.control_id for r in rows] == ["C1", "C2", "C3"]
    assert [r.accepted for r in rows] == [True, False, False]
    # string file key passes through with its own type
    assert dict(out.dtypes)["file_id"] == "string"
