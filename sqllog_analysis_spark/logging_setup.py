"""Application logging initialization — parity with the reference's
logging subsystem (src/analysis_log.rs:81-202, pinned by
tests/analysis_log_tests.rs and tests/log_init_dir_create_fail.rs).

Semantics mirrored:

- ``enabled=False`` ⇒ no-op, never fails (analysis_log_tests.rs:7-15);
- ``log_file=None`` ⇒ default ``<cwd>/logs/sqllog-analysis-YYYY-MM-DD.log``;
- a path WITH an extension is used verbatim as the log file;
- a path WITHOUT an extension is a directory: the dated file is created
  inside it (analysis_log.rs:96-124);
- parent directories are created; creation failure (e.g. the parent is a
  regular file) raises OSError — the caller decides
  (log_init_dir_create_fail.rs expects Err);
- the file handler appends; stdout echo is optional
  (``enable_stdout``); ``$SQLLOG_LOG`` overrides the level, like the
  reference's EnvFilter (analysis_log.rs:87-89).

Spark's own JVM log4j logging is independent — this covers the
APPLICATION logger (`sqllog_analysis_spark.*`), the analog of the
reference's tracing subscriber.
"""

from __future__ import annotations

import datetime as dt
import logging
import os
import sys

LOGGER_NAME = "sqllog_analysis_spark"


def resolve_log_file(log_file: str | None, today: dt.date | None = None) -> str:
    """analysis_log.rs:96-124 path resolution."""
    date = (today or dt.date.today()).isoformat()
    dated = f"sqllog-analysis-{date}.log"
    if log_file is None:
        return os.path.join(os.getcwd(), "logs", dated)
    root, ext = os.path.splitext(log_file)
    if ext:
        return log_file
    return os.path.join(log_file, dated)


def init_logging(
    enabled: bool = True,
    log_file: str | None = None,
    level: str = "INFO",
    enable_stdout: bool = True,
) -> str | None:
    """Initialize the application logger.  Returns the log file path, or
    None when disabled.  Raises OSError when the log directory cannot be
    created (parity with init() → io::Result)."""
    if not enabled:
        return None
    level = os.environ.get("SQLLOG_LOG", level).upper()
    path = resolve_log_file(log_file)
    parent = os.path.dirname(path)
    if parent:
        os.makedirs(parent, exist_ok=True)  # raises if parent is a file

    logger = logging.getLogger(LOGGER_NAME)
    logger.setLevel(getattr(logging, level, logging.INFO))
    # idempotent re-init (the reference's try_init warns instead of failing)
    for h in list(logger.handlers):
        logger.removeHandler(h)
        h.close()
    fmt = logging.Formatter(
        "%(asctime)s %(levelname)s %(name)s %(filename)s:%(lineno)d %(message)s"
    )
    fh = logging.FileHandler(path, mode="a", encoding="utf-8")
    fh.setFormatter(fmt)
    logger.addHandler(fh)
    if enable_stdout:
        sh = logging.StreamHandler(sys.stdout)
        sh.setFormatter(fmt)
        logger.addHandler(sh)
    logger.propagate = False
    logger.info("日志功能已启用（%s），等级: %s", "stdout + file" if enable_stdout else "仅文件", level)
    return path
