"""Logging-initialization parity — graft of the reference's
tests/analysis_log_tests.rs and tests/log_init_dir_create_fail.rs over
src/analysis_log.rs:81-202 semantics.
"""

from __future__ import annotations

import datetime as dt
import logging
import os

import pytest

from sqllog_analysis_spark.logging_setup import LOGGER_NAME, init_logging, resolve_log_file


def test_disabled_is_noop():
    # analysis_log_tests.rs:7-15: disabled init never fails
    assert init_logging(enabled=False) is None


def test_path_resolution_rules(tmp_path):
    today = dt.date(2026, 8, 16)
    dated = "sqllog-analysis-2026-08-16.log"
    # None → <cwd>/logs/<dated>
    assert resolve_log_file(None, today).endswith(os.path.join("logs", dated))
    # extension → verbatim file path
    assert resolve_log_file(str(tmp_path / "my.log"), today) == str(tmp_path / "my.log")
    # no extension → directory + dated file (analysis_log.rs:96-124)
    assert resolve_log_file(str(tmp_path / "logdir"), today) == str(
        tmp_path / "logdir" / dated
    )


def test_init_with_dir_creates_it_and_writes(tmp_path):
    # analysis_log_tests.rs:17-31
    d = tmp_path / "logs_here"
    path = init_logging(log_file=str(d), enable_stdout=False)
    assert os.path.isdir(d) and os.path.isfile(path)
    logging.getLogger(LOGGER_NAME).info("hello from test")
    with open(path, encoding="utf-8") as f:
        content = f.read()
    assert "hello from test" in content and "日志功能已启用" in content


def test_init_dir_create_fail_raises(tmp_path):
    # log_init_dir_create_fail.rs: parent path is a regular FILE → error
    parent_file = tmp_path / "parent_dir"
    parent_file.write_text("")
    with pytest.raises(OSError):
        init_logging(log_file=str(parent_file / "sub"))


def test_cli_log_dir_flag(spark, tmp_path, capsys):
    from sqllog_analysis_spark.__main__ import main
    from sqllog_analysis_spark.sources.transcripts import write_transcripts

    inp = str(tmp_path / "t.parquet")
    write_transcripts(inp, 200, seed=2)
    logdir = tmp_path / "applogs"
    rc = main(["--input", inp, "--output", str(tmp_path / "o"), "--log-dir", str(logdir)])
    assert rc == 0
    files = os.listdir(logdir)
    assert files and files[0].startswith("sqllog-analysis-")


def test_cli_log_dir_failure_exits_nonzero(tmp_path):
    from sqllog_analysis_spark.__main__ import main

    blocker = tmp_path / "blocker"
    blocker.write_text("")
    rc = main(["--input", "x", "--output", "y", "--log-dir", str(blocker / "sub")])
    assert rc == 1
