"""The JVM scorer (``jvm/Scorer.java``) equals the numpy reference kernel
(``ScoringModel.score_batch``) exactly, field for field, on the inputs the
UDF receives; the scorer jar is compiled once per source version."""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from llm_tab_cleaner_spark.fixtures.code_files import generate_code_files
from llm_tab_cleaner_spark.functions import thresholds as TH
from llm_tab_cleaner_spark.functions.scoring import default_model, with_scores

FIELDS = (
    "lang_pred", "lang_margin", "ppl_bits", "n_tokens", "n_distinct_tokens",
    "unique_token_ratio", "alnum_ratio", "is_nullish",
)


def _assert_fields_equal(got: pd.DataFrame, want: pd.DataFrame, fields=FIELDS) -> None:
    assert len(got) == len(want)
    for f in fields:
        g, w = got[f].tolist(), want[f].tolist()
        bad = [i for i, (a, b) in enumerate(zip(g, w)) if not (a == b or (a is None and b is None))]
        assert not bad, (f, len(bad), [(i, g[i], w[i]) for i in bad[:5]])


def _jvm_vs_reference(spark, parquet_input, raw: list, model=None) -> None:
    """Scores ``raw`` (bytes or None; invalid UTF-8 allowed) with the JVM
    scorer and with ``score_batch`` over the exact bytes the UDF received
    (``encode(content, 'UTF-8')`` of the string column). The input is a
    parquet scan, so the scorer runs in the query's generated code rather
    than in the optimizer's folding of a local relation."""
    model = model or default_model()
    pdf = pd.DataFrame({"id": np.arange(len(raw), dtype=np.int64), "b": raw})
    df = parquet_input(pdf, "id long, b binary").withColumn("s", F.col("b").cast("string"))
    out, _ = with_scores(df, "s", spark, model)
    got = (
        out.select("id", F.encode("s", "UTF-8").alias("utf8"), *FIELDS)
        .orderBy("id")
        .toPandas()
    )
    inputs = got["utf8"].map(lambda v: None if v is None else bytes(v))
    assert sum(v is None for v in inputs) == sum(v is None for v in raw)
    _assert_fields_equal(got, model.score_batch(inputs))


def _utf8(texts) -> list:
    return [t.encode("utf-8") for t in texts]


def test_jvm_scorer_equals_reference_on_fixture_3k(spark, parquet_input):
    cf, _ = generate_code_files(3000, seed=42)
    _jvm_vs_reference(spark, parquet_input, _utf8(cf.content))


def test_jvm_scorer_equals_reference_on_perfbench_corpus(spark, parquet_input):
    """The seed-1 8k corpus ``perfbench``'s code-file workloads read."""
    cf, _ = generate_code_files(8000, seed=1)
    _jvm_vs_reference(spark, parquet_input, _utf8(cf.content))


def _adversarial_rows() -> list:
    cf, _ = generate_code_files(40, seed=3)
    code = "\n".join(cf.content)
    megabyte = (code * (1_048_576 // len(code) + 1))[:1_048_576]
    return [
        None, b"", b"   ", b"\t\n\r\x0b\x0c ", b" N/A ", b"\tNULL\n", b"  UnKnown  ",
        b"n / a", b"ab", b"abc", b"a b", b"\r\n\r\n",
        megabyte.encode("utf-8"),
        "héllo wörld — ünïcode 日本語のテキスト 🙂 emoji tokens".encode("utf-8"),
        "ＮＵＬＬ".encode("utf-8"),
        b"\xff\xfe bad \xc3 utf8 \x80\x80 more words here and there",
        bytes(range(256)),
        b"a" * 3000,
        b"a" * 24,  # exactly 8 langid windows
        b"a" * 23,  # 7 windows: no confident call
        b"tok " * 5000,
        b"x" * 70_000,
        # longer than the scoring prefix: multi-byte characters on both
        # sides of the cut, and null-ish tokens behind long padding
        ("日本語のテキスト " * 9000).encode("utf-8"),
        ("é" * (TH.SCORE_PREFIX_CHARS - 1) + "🙂" + "tail words").encode("utf-8"),
        ("a" * TH.SCORE_PREFIX_CHARS + "é").encode("utf-8"),
        b" " * 70_000 + b"NULL" + b"\n" * 70_000,
        b" " * 70_000 + b"real code here",
        b"\x80" * 70_000 + b" trailing continuation bytes",
    ]


def test_jvm_scorer_equals_reference_on_adversarial_rows(spark, parquet_input):
    """NULL, empty, whitespace-only, padded/upper-case nullish tokens,
    2-3 byte rows, a 1 MB row, non-ASCII, invalid UTF-8, all-'a' rows, the
    8-window langid boundary, and rows longer than the scoring prefix."""
    _jvm_vs_reference(spark, parquet_input, _adversarial_rows())


def _numpy_argsort_is_avx512_network() -> bool:
    # stable order puts the highest tied index last (3); the AVX-512
    # bitonic network numpy 1.25+ dispatches to puts index 1 last
    return int(np.argsort(np.array([0.0, 1.0, 1.0, 1.0, 0.0, 0.0, 0.0]))[-1]) == 1


@pytest.mark.skipif(
    not _numpy_argsort_is_avx512_network(),
    reason="numpy's argsort on this CPU is not the AVX-512 network the JVM scorer replays",
)
def test_jvm_scorer_breaks_logit_ties_like_numpy(spark, parquet_input):
    """Exact ties between top logits need two languages with equal tables
    (the trained model has no such bucket), so use a model that has them:
    the tied languages' order decides lang_pred, as in numpy's argsort."""
    m = default_model()
    tied = dataclasses.replace(
        m,
        languages=tuple("abcdefg"),
        lang_logprob=np.ascontiguousarray(m.lang_logprob[[0, 4, 4, 4, 2, 2, 6]]),
    )
    cf, _ = generate_code_files(400, seed=11)
    raw = _utf8(cf.content) + [b"a" * 3000, b"{}" * 100]
    ref = tied.score_batch(pd.Series(raw))
    assert ref.lang_pred.isin(["b", "e"]).any()  # tied groups actually win
    _jvm_vs_reference(spark, parquet_input, raw, tied)


@pytest.mark.parametrize("prefix", [0, TH.SCORE_PREFIX_CHARS])
def test_pipeline_scores_equal_reference(spark, parquet_input, prefix):
    """Through ``apply_quality_filter``: at ``prefix`` 0 all 8 fields equal
    ``score_batch`` of the full texts; otherwise the 7 score fields equal
    ``score_batch`` of each text's first ``prefix`` characters (Python
    slices code points, as Spark's ``substring`` does). A token's null-ish
    flag is the same however much whitespace pads it, also past the
    prefix; only ASCII letters fold (U+212A KELVIN SIGN does not match
    "k")."""
    from llm_tab_cleaner_spark.operators.quality_filter import apply_quality_filter

    cf, _ = generate_code_files(200, seed=9)
    pad = " " * 70_000
    nullish = {"UNKNOWN": True, "un\u212anown": False}
    padded = [t for tok in nullish for t in (tok, pad + tok, tok + pad, pad + tok + pad)]
    texts = list(cf.content) + [
        None, "", "   ", " N/A ", "a" * 3000,
        " " * 70_000,                     # nullish in prefix and in full
        " " * 70_000 + "real code here",  # nullish prefix, not nullish file
        "def f(x):\n    return x\n" * 4000,  # > 65,536 chars
        "def größe(x):  # 🙂\n    return x\n" * 3000,  # > prefix, multi-byte
    ] + padded
    pdf = pd.DataFrame({
        "repo": "r", "path": [f"p{i}" for i in range(len(texts))],
        "commit": "c", "lang": "python", "content": texts,
    })
    df = parquet_input(pdf, "repo string, path string, commit string, lang string, content string")
    out, model = apply_quality_filter(df, spark)
    got = out.select("path", *FIELDS).toPandas().set_index("path").loc[pdf.path].reset_index()
    if prefix:
        prefixes = [t if t is None else t[:prefix] for t in texts]
        _assert_fields_equal(got, model.score_batch(pd.Series(prefixes)), FIELDS[:-1])
    else:
        _assert_fields_equal(got, model.score_batch(pd.Series(texts)))
    want = [flag for flag in nullish.values() for _ in range(4)]
    assert got.is_nullish.tolist()[-len(padded):] == want


def test_with_scores_without_scorer_class_names_the_fix(spark, monkeypatch):
    """A session whose JVM lacks the scorer jar gets an error that names
    build_session and --jars, not a bare Py4J lookup failure."""
    from llm_tab_cleaner_spark.functions import scoring as S

    m = default_model()
    # different tables → a function name this session has not registered
    other = dataclasses.replace(m, ppl_bits_table=m.ppl_bits_table + np.float32(1.0))
    monkeypatch.setattr(S, "SCORER_CLASS", "llm_tab_cleaner_spark.jvm.NoSuchScorer")
    df = spark.createDataFrame([("x",)], "content string")
    with pytest.raises(RuntimeError, match="build_session") as err:
        with_scores(df, "content", spark, other)
    assert "--jars" in str(err.value)


def test_build_session_compiles_scorer_jar_once(spark, monkeypatch, tmp_path):
    import llm_tab_cleaner_spark.jvm as J
    from llm_tab_cleaner_spark.session import build_session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    calls = []
    real_run = J.subprocess.run

    def counting_run(cmd, *a, **kw):
        calls.append(cmd[0])
        return real_run(cmd, *a, **kw)

    monkeypatch.setattr(J.subprocess, "run", counting_run)
    # the session exists already, so build_session returns it as it is
    for _ in range(2):
        assert build_session(app_name="pytest", cpus=8, shuffle_partitions=8) is not None
    assert len(calls) == 1 and calls[0].endswith("javac"), calls
    jars = list((tmp_path / "llm_tab_cleaner_spark").glob("scorer-*.jar"))
    assert len(jars) == 1 and J.scorer_jar() == str(jars[0])
    assert len(calls) == 1
    # nothing but the jar is left in the cache
    assert [p.name for p in (tmp_path / "llm_tab_cleaner_spark").iterdir()] == [jars[0].name]


def test_build_session_without_javac_says_what_to_install(monkeypatch, tmp_path):
    from llm_tab_cleaner_spark.session import build_session

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))  # empty cache: must compile
    monkeypatch.setenv("PATH", str(tmp_path / "no-bin"))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    with pytest.raises(RuntimeError, match="javac not found") as err:
        build_session(app_name="pytest", cpus=8, shuffle_partitions=8)
    assert "JDK" in str(err.value) and "--jars" in str(err.value)
