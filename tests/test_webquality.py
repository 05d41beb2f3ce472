"""Web/code corpus quality heuristics (functions/webquality.py): pure-Python
reference parity on crafted strings for all three families (Gopher quality
rules, C4 cleaning, Stack code filters), rule-trigger goldens, and plan
guards (pure projections — no shuffle, no Python eval)."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

import pytest

from llm_tab_cleaner_spark.functions import thresholds as TH


def _r4(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))


def _norm_lines(text: str) -> list[str]:
    norm = re.sub(r"[ \t\r\f]*\n[ \t\r\f]*", "\n", text)
    norm = re.sub(r"^[ \t\r\f]+|[ \t\r\f]+$", "", norm)
    norm = re.sub(r"^\n+|\n+$", "", norm)
    return [] if norm == "" else re.split(r"\n+", norm)


def _words(text: str) -> list[str]:
    stripped = re.sub(r"^[ \t\r\f\n]+|[ \t\r\f\n]+$", "", text)
    return re.split(r"[ \t\r\f\n]+", stripped) if stripped else []


def ref_gopher(text: str) -> dict:
    """Pure-Python mirror of gopher_quality_stats / its DuckDB oracle."""
    words, ls = _words(text), _norm_lines(text)
    nw, nl = len(words), len(ls)
    mwl = _r4(sum(len(w) for w in words) / nw) if nw else 0.0
    sym = (
        text.count("#")
        + (len(text) - len(text.replace("...", ""))) / 3
        + text.count("…")
    )
    swr = _r4(sym / nw) if nw else 0.0
    blf = _r4(sum(1 for l in ls if re.match(r"[-*•‣▪]", l)) / nl) if nl else 0.0
    elf = (
        _r4(sum(1 for l in ls if re.search(r"(\.\.\.|…)$", l)) / nl) if nl else 0.0
    )
    alpha = sum(1 for w in words if re.search(r"[A-Za-z]", w))
    awf = _r4(alpha / nw) if nw else 0.0
    wl = set(_words(text.lower()))
    hits = sum(1 for s in TH.GOPHER_STOPWORDS if s in wl)
    keep = (
        TH.GOPHER_MIN_WORDS <= nw <= TH.GOPHER_MAX_WORDS
        and TH.GOPHER_MIN_MEAN_WORD_LEN <= mwl <= TH.GOPHER_MAX_MEAN_WORD_LEN
        and swr <= TH.GOPHER_SYMBOL_WORD_RATIO_MAX
        and blf <= TH.GOPHER_BULLET_LINE_FRAC_MAX
        and elf <= TH.GOPHER_ELLIPSIS_LINE_FRAC_MAX
        and awf >= TH.GOPHER_ALPHA_WORD_FRAC_MIN
        and hits >= TH.GOPHER_MIN_STOPWORD_HITS
    )
    return {
        "n_words": nw,
        "n_lines": nl,
        "mean_word_len": mwl,
        "symbol_word_ratio": swr,
        "bullet_line_frac": blf,
        "ellipsis_line_frac": elf,
        "alpha_word_frac": awf,
        "n_stop_hits": hits,
        "gopher_keep": keep,
    }


def ref_c4(text: str) -> dict:
    """Pure-Python mirror of c4_clean / its DuckDB oracle."""
    ls = _norm_lines(text)

    def keep_line(l: str) -> bool:
        if not re.search(r'[.!?"”]$', l):
            return False
        if len(re.split(r"[ \t\r\f]+", l)) < TH.C4_MIN_WORDS_PER_LINE:
            return False
        lc = l.lower()
        return not any(p in lc for p in TH.C4_LINE_DROP_PHRASES)

    kept = [l for l in ls if keep_line(l)]
    clean = "\n".join(kept)
    n_sent = len(re.findall(r'[.!?]["”]?[ \t\r\f\n]', clean + "\n"))
    has_lorem = "lorem ipsum" in text.lower()
    has_brace = "{" in text
    return {
        "text_clean": clean,
        "n_lines": len(ls),
        "n_lines_kept": len(kept),
        "n_sentences": n_sent,
        "has_lorem": has_lorem,
        "has_brace": has_brace,
        "c4_keep": n_sent >= TH.C4_MIN_SENTENCES and not has_lorem and not has_brace,
    }


def ref_stack(text: str) -> dict:
    """Pure-Python mirror of code_quality_stats / its DuckDB oracle."""
    t = text.replace("\r\n", "\n")
    ls = t.split("\n")
    nl = len(ls)
    mean_ll = _r4((len(t) - (nl - 1)) / nl)
    mll = max(len(l) for l in ls)
    nonspace = len(re.sub(r"[ \t\n\x0b\x0c\r]", "", t))
    alnum = len(re.sub(r"[^a-zA-Z0-9]", "", t))
    af = _r4(alnum / nonspace) if nonspace else 1.0
    b64 = r"[A-Za-z0-9+/=]{%d,}" % TH.STACK_BASE64_RUN_MIN
    hx = r"[0-9a-fA-F]{%d,}" % TH.STACK_HEX_RUN_MIN
    enc = len(t) - len(re.sub(hx, "", re.sub(b64, "", t)))
    ef = _r4(enc / len(t)) if len(t) else 0.0
    autogen = any(
        p.replace("\\*", "*") in t for p in TH.AUTOGEN_PATTERNS
    )
    keep = (
        mean_ll <= TH.STACK_MEAN_LINE_LEN_MAX
        and mll <= TH.MAX_LINE_LEN
        and af >= TH.STACK_ALNUM_FRAC_MIN
        and ef <= TH.STACK_ENCODED_FRAC_MAX
        and not autogen
    )
    return {
        "n_lines": nl,
        "max_line_len": mll,
        "mean_line_len": mean_ll,
        "alnum_frac": af,
        "encoded_data_frac": ef,
        "is_autogen": autogen,
        "stack_keep": keep,
    }


GOOD_PROSE = (
    "the quick brown fox jumps over that lazy dog near the river bank and "
    "everyone watching decided they have seen enough of this show to be "
    "entirely sure it will end with the fox winning against all odds yet "
    "again because stories of this kind tend to repeat with minor changes "
    "in every retelling that people share with friends"
)

GOPHER_CASES = [
    GOOD_PROSE,                                      # passes every rule
    "short text",                                    # word-count floor
    "## ### #### " * 30,                             # symbol ratio + no alpha
    "- a b c d e\n- f g h i j\n- k l m n o",         # 100% bullet lines
    "wait for it ...\nand more ...\nagain …",        # ellipsis lines
    "12345 67890 11 22 33 " * 20,                    # alpha-word fraction 0
    "zz yy xx ww vv " * 30,                          # no stop words
    "",                                              # empty
    "   \n\t\n  ",                                   # whitespace only
    "extraordinarily incomprehensible antidisestablishmentarianism " * 40,  # mean word len
]

C4_CASES = [
    "This is a good first sentence. And here is a second one. Finally a "
    "third sentence appears.",                       # single line, 3 sentences
    "A line that ends well today.\nshort one.\nNo terminal punct here\n"
    "Another proper line with enough words.",        # mixed line filters
    "Check our privacy policy for details please.\n"
    "Enable javascript to view this page properly.\n"
    "Real content sentence with many words here.",   # phrase-dropped lines
    "Lorem ipsum dolor sit amet and more words. Second sentence here "
    "please. Third one lands now.",                   # lorem page filter
    "var f = function() { return 1; } and some text. More text follows "
    "now. And a third sentence too.",                 # brace page filter
    'He said "stop right there my friend!" and left quickly.\n'
    "A quoted ending works as terminal too.”\nYes it does work fine today.",
    "",                                               # empty
    "one two three four five\nsix seven eight nine ten",  # no terminal punct
]

STACK_CASES = [
    "def f(x):\n    return x + 1\n\nprint(f(2))",     # normal code
    "x = 1\n" + "y" * 1500 + "\nz = 2",               # long line
    "data = '" + "QUJDRA==" * 20 + "'",               # base64 run
    "h = 0x" + "DEADBEEF" * 4 + "\nok = True",        # hex run
    "# Code generated by protoc. DO NOT EDIT.\nmsg = 1",  # autogen
    "#!*@! $%^& ()[] <>~` |||\n:::: ;;;; ,,,,",       # symbol junk (alnum floor)
    "a\n\n\nb",                                       # blank lines count
    "line one\r\nline two\r\nline three",             # CRLF normalization
]


@pytest.fixture(scope="module")
def wq(spark):
    from llm_tab_cleaner_spark.functions.webquality import (
        c4_clean,
        code_quality_stats,
        gopher_quality_stats,
    )

    def run(fn, cases):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
        )
        return {r["doc_id"]: r.asDict() for r in fn(df, "doc_id", "text").collect()}

    return run, gopher_quality_stats, c4_clean, code_quality_stats


def test_gopher_matches_reference(wq):
    run, gopher, _, _ = wq
    got = run(gopher, GOPHER_CASES)
    for i, text in enumerate(GOPHER_CASES):
        exp = ref_gopher(text)
        for k, v in exp.items():
            assert got[i][k] == pytest.approx(v), (i, k, text[:40])


def test_gopher_rule_triggers(wq):
    run, gopher, _, _ = wq
    got = run(gopher, GOPHER_CASES)
    assert got[0]["gopher_keep"] is True
    # every other case violates at least one rule
    for i in range(1, len(GOPHER_CASES)):
        assert got[i]["gopher_keep"] is False, i
    assert got[3]["bullet_line_frac"] == 1.0
    assert got[4]["ellipsis_line_frac"] == 1.0
    assert got[5]["alpha_word_frac"] == 0.0
    assert got[6]["n_stop_hits"] == 0
    assert got[0]["n_stop_hits"] >= 5


def test_c4_matches_reference(wq):
    run, _, c4, _ = wq
    got = run(c4, C4_CASES)
    for i, text in enumerate(C4_CASES):
        exp = ref_c4(text)
        for k, v in exp.items():
            assert got[i][k] == v, (i, k, text[:40])


def test_c4_behavior(wq):
    run, _, c4, _ = wq
    got = run(c4, C4_CASES)
    assert got[0]["c4_keep"] is True and got[0]["n_sentences"] == 3
    assert got[1]["n_lines_kept"] == 2  # short + unterminated lines dropped
    assert got[2]["n_lines_kept"] == 1  # policy/javascript lines dropped
    assert got[3]["has_lorem"] is True and got[3]["c4_keep"] is False
    assert got[4]["has_brace"] is True and got[4]["c4_keep"] is False
    assert got[5]["n_lines_kept"] == 3  # quote endings are terminal
    assert got[6]["text_clean"] == "" and got[6]["c4_keep"] is False
    assert got[7]["n_lines_kept"] == 0


def test_stack_matches_reference(wq):
    run, _, _, stack = wq
    got = run(stack, STACK_CASES)
    for i, text in enumerate(STACK_CASES):
        exp = ref_stack(text)
        for k, v in exp.items():
            assert got[i][k] == pytest.approx(v), (i, k, text[:40])


def test_stack_rule_triggers(wq):
    run, _, _, stack = wq
    got = run(stack, STACK_CASES)
    assert got[0]["stack_keep"] is True
    assert got[1]["max_line_len"] == 1500 and got[1]["stack_keep"] is False
    assert got[2]["encoded_data_frac"] > 0.5 and got[2]["stack_keep"] is False
    assert got[3]["encoded_data_frac"] > 0.0
    assert got[4]["is_autogen"] is True and got[4]["stack_keep"] is False
    assert got[5]["alnum_frac"] < 0.25 and got[5]["stack_keep"] is False
    assert got[7]["n_lines"] == 3  # CRLF folded before splitting


def test_webquality_plans_are_pure_projections(spark):
    """No shuffle, no Python eval: each family is one map-side projection
    over the scan (C4/Stack use JVM array HOFs — allowed outside the
    quality-filter hot path; Gopher stays fully codegen-able)."""
    from llm_tab_cleaner_spark.functions.webquality import (
        c4_clean,
        code_quality_stats,
        gopher_quality_stats,
    )

    df = spark.createDataFrame([(1, "a b c.")], "doc_id long, text string")
    for fn in (gopher_quality_stats, c4_clean, code_quality_stats):
        plan = (
            fn(df, "doc_id", "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, fn.__name__
        assert "EvalPython" not in plan, fn.__name__
    gplan = (
        gopher_quality_stats(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "lambdafunction" not in gplan.lower()


def test_compression_stats_goldens(spark):
    """compress ratio must equal the same zlib codec run driver-side, and
    the keep flag must separate repetitive / normal / incompressible docs.
    The MB-sized, astral and random rows hold the JVM's Deflater to
    Python's zlib where their outputs could part."""
    import random
    import zlib

    from llm_tab_cleaner_spark.functions.webquality import compression_stats

    rng = random.Random(12)
    bmp = [c for c in range(0x20, 0x10000) if not 0xD800 <= c <= 0xDFFF]
    cases = [
        "spam spam spam " * 200,                       # highly repetitive
        GOOD_PROSE,                                    # normal text
        "".join(chr(33 + ((i * 7919) % 90)) for i in range(400)),  # noisy
        "",                                            # empty
        "x",                                           # tiny
        None,
        "x" * 10**6,
        "".join(chr(c) for c in rng.choices(bmp, k=200_000)),
        "é€𝄞" * 5000,
        "".join(rng.choices("0123456789abcdef", k=300_000)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in compression_stats(df, "doc_id", "text").collect()
    }
    for i, t in enumerate(cases):
        b = (t or "").encode("utf-8")
        assert got[i]["n_bytes"] == len(b)
        exp_comp = len(zlib.compress(b, 6)) if b else 0
        assert got[i]["n_bytes_compressed"] == exp_comp, i
        exp_ratio = _r4(exp_comp / len(b)) if b else 0.0
        assert got[i]["compress_ratio"] == pytest.approx(exp_ratio)
    assert got[0]["compress_ratio"] < 0.05 and got[0]["compress_keep"] is False
    assert got[1]["compress_keep"] is True
    assert got[4]["compress_ratio"] > 1.0 and got[4]["compress_keep"] is False
    assert got[3]["compress_keep"] is False  # empty fails the floor
    assert got[5]["compress_keep"] is False  # so does NULL


def test_compression_plan_single_kernel_call(spark, parquet_input):
    """The zlib length is one Java UDF call: the plan holds the kernel once,
    no Python stage and no Exchange. The input is a parquet scan, because
    the optimizer folds projections over a ``createDataFrame`` input."""
    import pandas as pd

    from llm_tab_cleaner_spark.functions.webquality import compression_stats

    df = parquet_input(pd.DataFrame({"doc_id": [1], "text": ["abc"]}))
    plan = (
        compression_stats(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("llm_tab_cleaner_deflated_length_") == 1, plan
    assert "Python" not in plan and "Exchange" not in plan, plan


def test_webquality_stateless_on_streams(spark, tmp_path):
    """The webquality projections are stateless, so they must compose with
    Structured Streaming unchanged and produce byte-identical decisions to
    batch — the same contract the pipeline's license/comment gates carry."""
    from llm_tab_cleaner_spark.functions.webquality import (
        compression_stats,
        gopher_quality_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    src = str(tmp_path / "docs")
    docs.coalesce(2).write.parquet(src)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        gopher_quality_stats(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wq_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["n_words"], r["gopher_keep"])
        for r in spark.sql("select * from wq_out").collect()
    }
    batch = spark.read.parquet(src)
    exp = {
        r["doc_id"]: (r["n_words"], r["gopher_keep"])
        for r in gopher_quality_stats(batch, "doc_id", "text").collect()
    }
    assert got == exp and len(got) == 60

    # the UDF-backed compression signal streams too
    q2 = (
        compression_stats(stream, "doc_id", "text")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wq_comp")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got2 = {
        r["doc_id"]: r["compress_ratio"]
        for r in spark.sql("select * from wq_comp").collect()
    }
    exp2 = {
        r["doc_id"]: r["compress_ratio"]
        for r in compression_stats(batch, "doc_id", "text").collect()
    }
    assert got2 == exp2


def test_script_stats_goldens(spark):
    from llm_tab_cleaner_spark.functions.webquality import script_stats

    cyr = "".join(chr(c) for c in range(0x0430, 0x0436))
    cjk = "".join(chr(c) for c in (0x4E2D, 0x6587))
    cases = [
        (0, "plain english words only here"),
        (1, cyr + " " + cyr),                 # pure cyrillic
        (2, "mixed latin " + cjk),            # latin dominant, cjk present
        (3, "12345 !!! ???"),                 # no script letters at all
        (4, "ab " + cyr[:2]),                 # tie 2 vs 2 -> name-asc wins
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict() for r in script_stats(df, "doc_id", "text").collect()
    }
    assert got[0]["main_script"] == "latin" and got[0]["main_script_share"] == 1.0
    assert got[1]["main_script"] == "cyrillic" and got[1]["n_cyrillic"] == 12
    assert got[2]["main_script"] == "latin" and got[2]["n_cjk"] == 2
    assert got[3]["main_script"] == "none" and got[3]["main_script_share"] == 0.0
    assert got[4]["n_latin"] == 2 and got[4]["n_cyrillic"] == 2
    assert got[4]["main_script"] == "cyrillic"  # alphabetical tie-break
    assert got[4]["main_script_share"] == 0.5


def test_script_stats_plan_pure(spark):
    from llm_tab_cleaner_spark.functions.webquality import script_stats

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    plan = (
        script_stats(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan
