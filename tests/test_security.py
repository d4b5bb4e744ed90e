"""security_utils parity (functions/security.py vs reference
utils/security_utils.py, tests/unit/utils/test_security_utils.py):
sanitation, masking, identifier validation — plus the wiring into
hybrid_search and the query-log sink."""

from __future__ import annotations

import pytest

from customkb_spark.functions import security as S


# ----------------------------------------------------- sanitize_query_text


def test_sanitize_strips_control_chars_keeps_whitespace():
    assert S.sanitize_query_text("a\x00b\x08c\x0bd\x7fe") == "abcde"
    assert S.sanitize_query_text("line1\nline2\tend\r") == "line1\nline2\tend"


def test_sanitize_empty_and_oversized_raise():
    with pytest.raises(ValueError, match="empty"):
        S.sanitize_query_text("")
    with pytest.raises(ValueError, match="too long"):
        S.sanitize_query_text("x" * 10_001)
    assert S.sanitize_query_text("x" * 10_000) == "x" * 10_000


def test_sanitize_query_col_matches_py(spark):
    rows = ["a\x00b", "  trimmed  ", "tab\tok\nline"]
    df = spark.createDataFrame([(r,) for r in rows], "q string")
    got = [r[0] for r in df.select(S.sanitize_query_col("q")).collect()]
    assert got == [S.sanitize_query_text(r) for r in rows]


def test_sanitize_config_value():
    assert S.sanitize_config_value(" value\x00\n ") == "value"
    with pytest.raises(ValueError, match="too long"):
        S.sanitize_config_value("x" * 1001)


# ------------------------------------------------------ mask_sensitive_data

OPENAI_KEY = "sk-" + "a1B2" * 12  # 48 chars after prefix
ANT_KEY = "sk-ant-" + "x" * 100
GENERIC = "f" * 40


def test_mask_provider_keys_and_generic_tokens():
    assert S.mask_sensitive_data(f"key={OPENAI_KEY} ok") == "key=sk-***MASKED*** ok"
    assert S.mask_sensitive_data(f"a {ANT_KEY} b") == "a sk-ant-***MASKED*** b"
    assert S.mask_sensitive_data(f"tok {GENERIC} end") == "tok ***MASKED*** end"
    assert S.mask_sensitive_data("short words stay put") == "short words stay put"


# -------------------------------------------------------------- validators


def test_validate_table_name():
    assert S.validate_table_name("chunks")
    assert S.validate_table_name("_private_2")
    assert not S.validate_table_name("")
    assert not S.validate_table_name("2starts_with_digit")
    assert not S.validate_table_name("has-dash")
    assert not S.validate_table_name("sqlite_master")
    assert not S.validate_table_name("PG_catalog")
    assert not S.validate_table_name("x" * 65)


def test_validate_database_name():
    assert S.validate_database_name("my_kb-1.db") == "my_kb-1.db"
    for bad in ("", "a/b", "a..b", "x;drop"):
        with pytest.raises(ValueError):
            S.validate_database_name(bad)


def test_validate_api_key():
    assert S.validate_api_key(OPENAI_KEY, prefix="sk-")
    assert not S.validate_api_key("", prefix="sk-")
    assert not S.validate_api_key("sk-short", prefix="sk-")
    assert not S.validate_api_key("x" * 30, prefix="sk-")  # wrong prefix
    assert not S.validate_api_key("bad key with spaces!" * 2)


def test_validate_safe_path(tmp_path):
    base = str(tmp_path)
    assert S.validate_safe_path(f"{base}/sub/file.txt", base)
    assert not S.validate_safe_path(f"{base}/../escape.txt", base)
    assert not S.validate_safe_path("/etc/passwd", base)
    # sibling-prefix dir must not pass (base='/a/b' vs '/a/bc')
    assert not S.validate_safe_path(base + "x/file", base)


def test_safe_json_loads():
    assert S.safe_json_loads('{"a": 1}') == {"a": 1}
    with pytest.raises(ValueError, match="too large"):
        S.safe_json_loads("{}" * 6000)
    with pytest.raises(ValueError, match="Invalid JSON"):
        S.safe_json_loads("{bad}")


# ----------------------------------------------------------------- wiring


def test_hybrid_search_rejects_oversized_query(spark):
    from customkb_spark.plans import hybrid as HY

    with pytest.raises(ValueError, match="too long"):
        HY.hybrid_search(None, "x" * 10_001)
    with pytest.raises(ValueError, match="empty"):
        HY.hybrid_search(None, "")


def test_query_log_masks_secrets(spark, tmp_path):
    from customkb_spark.plans.querylog import log_query, read_query_log

    path = str(tmp_path / "qlog")
    log_query(spark, path, "kb1", f"find {OPENAI_KEY} docs", 0.5, 3)
    row = read_query_log(spark, path).first()
    assert row.query == "find sk-***MASKED*** docs"
    assert row.kb == "kb1" and row.n_results == 3

    # each key shape of _MASK_RULES, with non-repeating key bodies so
    # that an unmasked key could not hide in compressed pages: the
    # masked text is what is read back, and the key's bytes appear in
    # no file under the table (page data or footer statistics)
    import hashlib
    import os

    body = "".join(hashlib.sha256(bytes([i])).hexdigest() for i in range(4))
    shapes = {
        "sk-***MASKED***": "sk-" + body[:48],
        "sk-ant-***MASKED***": "sk-ant-" + body[:100],
        "***MASKED***": body[:40],
    }
    for i, (masked, key) in enumerate(shapes.items()):
        kpath = str(tmp_path / f"qlog{i}")
        log_query(spark, kpath, "kb1", f"find {key} docs", 0.5, 3)
        assert read_query_log(spark, kpath).first().query == f"find {masked} docs"
        files = [os.path.join(d, f) for d, _, fs in os.walk(kpath) for f in fs]
        assert files
        for f in files:
            with open(f, "rb") as fh:
                assert key.encode() not in fh.read(), f


def test_hybrid_search_control_chars_only_rejected(spark):
    """Control-chars-only query strips to empty — must raise like the
    pre-strip empty case, not run retrieval on ''."""
    from customkb_spark.plans import hybrid as HY

    with pytest.raises(ValueError, match="empty"):
        HY.hybrid_search(None, "\x01\x02\x03")


def test_cli_query_oversized_returns_rc2(spark, tmp_path, capsys):
    """A >10k-char --query-file is a clear rc=2 error, not a traceback
    (code-review r4: sanitize ValueError surfaced raw)."""
    from customkb_spark import cli

    kb_dir = str(tmp_path / "kb")
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "d.md").write_text("spark document text " * 30)
    assert cli.main(["database", kb_dir, "--files", f"{docs}/*.md"]) == 0
    assert cli.main(["embed", kb_dir]) == 0
    qf = tmp_path / "q.txt"
    qf.write_text("word " * 3000)  # 15k chars
    rc = cli.main(["query", kb_dir, "--query-file", str(qf), "--context-only"])
    assert rc == 2
    assert "too long" in capsys.readouterr().err
