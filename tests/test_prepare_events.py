"""Curation (``ingest.prepare_events``) runs on JVM built-ins only: it
must equal the Python reference (``functions.udfs._norm_one`` +
``hashlib``) on every string of characters assigned in Python's Unicode
version, and no Python evaluation node may appear in its plan or in a
copy-on-write ``apply_batch``."""

from __future__ import annotations

import hashlib
import random
import unicodedata

import pandas as pd

from pyorchdb_spark.functions.udfs import _norm_one
from pyorchdb_spark.generator import change_events
from pyorchdb_spark.ingest import apply_batch, prepare_events
from pyorchdb_spark.sources.catalog import BatchLedger
from pyorchdb_spark.sources.lake import LakeTable

SCHEMA = (
    "id long, repo string, path string, commit string, seq long, op string, "
    "lang string, content string, batch_id string"
)
PYTHON_EVAL_NODES = ("ArrowEvalPython", "BatchEvalPython")

# fixed adversarial fragments: ./ chains, // runs, line terminators next
# to a trailing /, NFD/NFC pairs, Hangul jamo (which NFC composes into
# syllables), singleton decompositions, composition exclusions, combining
# marks out of canonical order, and a supplementary-plane exclusion
FRAGMENTS = [
    "./", "././", ".//", "/", "//", "///", ".", "..", "\n", "\r", "\r\n",
    "\x85", "\xa0", "\u3000", "\t", "\x00", "a", "src",
    "\xe9", "e\u0301",  # NFC / NFD pair
    "\u212b", "A\u030a", "\xc5",  # ANGSTROM SIGN: singleton decomposition
    "\u2126",  # OHM SIGN -> GREEK CAPITAL LETTER OMEGA
    "\u1100\u1161", "\u1100\u1161\u11a8", "\uac00\u11a8", "\u1112\u1175",  # Hangul jamo (L V, L V T, LV T)
    "\u0958", "\u0915\u093c",  # composition exclusion (DEVANAGARI QA)
    "\uf900",  # CJK compatibility ideograph
    "q\u0307\u0323", "q\u0323\u0307",  # combining marks out of / in order
    "\u0345", "\xe9\u0301",
    "\U0001d15e",  # supplementary-plane composition exclusion
    "\U0001f600",
]
SPECIAL_PATHS = [
    "", "/", "//", "./", "././", "./a", "a/", "a//", "a/\n", "\n/", "a\n/",
    "/\n", "./\n/", "\r/", "\xa0/", "\x85/", "\xe9/", "e\u0301/", ".//./a",
    "a/./b/",
]


def _assigned(cp: int) -> bool:
    # assigned in Python's Unicode database, and encodable as UTF-8
    return unicodedata.category(chr(cp)) not in ("Cn", "Cs")


def _random_char(rng: random.Random) -> str:
    while True:
        # bias toward the blocks where normalization does something
        lo, hi = rng.choice(
            [(0x20, 0x7E), (0xC0, 0x24F), (0x300, 0x36F), (0x370, 0x3FF),
             (0x900, 0x97F), (0x1100, 0x11FF), (0x1E00, 0x1FFF),
             (0xAC00, 0xD7A3), (0xF900, 0xFAFF), (0x0, 0x2FFFF)]
        )
        cp = rng.randint(lo, hi)
        if _assigned(cp):
            return chr(cp)


def _random_path(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.02:
        return None
    if r < 0.07:
        return rng.choice(SPECIAL_PATHS)
    parts = []
    for _ in range(rng.randint(0, 8)):
        if rng.random() < 0.6:
            parts.append(rng.choice(FRAGMENTS))
        else:
            parts.append("".join(_random_char(rng) for _ in range(rng.randint(1, 4))))
    return "".join(parts)


def _random_content(rng: random.Random) -> str | None:
    if rng.random() < 0.03:
        return None
    return "".join(
        rng.choice(FRAGMENTS) if rng.random() < 0.3 else _random_char(rng)
        for _ in range(rng.randint(0, 40))
    )


def _version(v: str) -> tuple[int, ...]:
    return tuple(int(x) for x in v.split("."))


def test_prepare_events_equals_python_reference(spark):
    """Seeded property test over 12k adversarial rows: ``path`` equals
    ``_norm_one`` and ``content_sha256`` equals ``hashlib.sha256`` of the
    UTF-8 content (null for deletes and null content).

    Characters are drawn only from code points assigned in Python's
    ``unicodedata`` (Unicode 14.0 on Python 3.11), a subset of those
    assigned in ICU4J 77 (Unicode 16.0) which Spark uses for NFC. For
    assigned characters Unicode's normalization stability policy makes
    NFC agree across versions; code points assigned after 14.0 would
    compose under ICU but not under Python, so they are excluded."""
    icu = spark.sparkContext._jvm.com.ibm.icu.lang.UCharacter.getUnicodeVersion().toString()
    assert _version(unicodedata.unidata_version) <= _version(icu), (unicodedata.unidata_version, icu)
    rng = random.Random(20261017)
    rows = []
    for i in range(12_000):
        op = rng.choice(["upsert"] * 6 + ["delete"] * 3 + [None])
        rows.append(
            (i, "r", _random_path(rng), "c", i, op, "x", _random_content(rng), "b0")
        )
    pdf = pd.DataFrame(rows, columns=[f.split()[0] for f in SCHEMA.split(", ")])
    got = prepare_events(spark.createDataFrame(pdf, SCHEMA)).select(
        "id", "path", "content_sha256"
    ).toPandas().sort_values("id")

    mismatches = []
    for (_, _, path, _, _, op, _, content, _), g_path, g_sha in zip(
        rows, got["path"], got["content_sha256"]
    ):
        exp_path = _norm_one(path)
        exp_sha = (
            None if op == "delete" or content is None
            else hashlib.sha256(content.encode("utf-8")).hexdigest()
        )
        if g_path != exp_path or g_sha != exp_sha:
            mismatches.append((path, op, g_path, exp_path))
    assert not mismatches, (len(mismatches), mismatches[:5])
    # the seeded draw really exercised the adversarial cases
    paths = [r[2] for r in rows]
    assert any(p is not None and p != unicodedata.normalize("NFC", p) for p in paths)
    assert sum(p is not None and p.endswith("/") and len(p) > 1 for p in paths) > 100
    assert any(p is None for p in paths) and "" in paths and "/" in paths
    assert max(ord(c) for p in paths if p for c in p) > 0xFFFF


def _executions(spark):
    """Every SQL execution the session's status store still holds, once
    the listener bus has delivered all pending events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        yield it.next()


def test_no_python_round_trip_in_curation_or_cow_apply(spark, tmp_path):
    """A Python evaluation node in the curation plan would silently bring
    back the Arrow round trip per row; guard both the projection alone and
    every query a copy-on-write ``apply_batch`` executes."""
    ev = change_events(spark, 1_000, batch_size=1_000)
    plan = prepare_events(ev)._jdf.queryExecution().executedPlan().toString()
    assert not [n for n in PYTHON_EVAL_NODES if n in plan], plan

    root = str(tmp_path / "t")
    lake, ledger = LakeTable(spark, root), BatchLedger(spark, root)
    apply_batch(lake, ledger, ev.filter("batch_id = 'b000000'"), "b000000", num_files=2)
    last = max((e.executionId() for e in _executions(spark)), default=-1)
    # second batch: CoW over existing files (affected-bucket hit set,
    # metrics pass and data-file write)
    res = apply_batch(lake, ledger, ev.filter("batch_id = 'b000000'").withColumn(
        "seq", ev["seq"] + 1_000_000), "b000001", num_files=2)
    assert not res.skipped and res.version == 2
    plans = [e.physicalPlanDescription() for e in _executions(spark) if e.executionId() > last]
    assert plans and any("content_sha256" in p or "sha2" in p for p in plans)
    bad = [p for p in plans if any(n in p for n in PYTHON_EVAL_NODES)]
    assert not bad, bad[0]
