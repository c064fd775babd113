"""Job logging bootstrap and the env-var config idiom.

The reference's HOCON scoped config (job/sample_mysql_aws_sqs_job.py:47-72
builds a flat ``scope.key`` -> value dict; publisher/
aws_sqs_csv_puiblisher.py:70 merges defaults with ``with_fallback``)
reduces here to one fallback chain per setting: a job's plain ``conf``
dict first, then the reference's environment variable through
:func:`env`, then a default — ``conf.get(key, env(NAME, default))`` in
``jobs.build_metadata_job`` (reference: README.md:39-48,
job/sample_mysql_aws_sqs_job.py:21-32).
"""

from __future__ import annotations

import logging
import logging.config
import os
import sys

__all__ = ["configure_logging", "env"]


#: The reference root-logger format (config/logging_config.ini:20-21),
#: without the ini's stray literal quotes around the format string.
_LOG_FORMAT = ("%(asctime)s.%(msecs)03d [%(levelname)s] "
               "%(module)s.%(funcName)s:%(lineno)d "
               "(%(process)d:%(threadName)s) - %(message)s")

#: Marker attribute so repeated configure_logging calls (every job
#: module imports its entry point) never stack duplicate handlers.
_HANDLER_TAG = "_ab_metadata_pusher_spark_handler"


def configure_logging(ini_path: str | os.PathLike[str] | None = None,
                      *, level: int = logging.INFO) -> logging.Logger:
    """Job logging bootstrap — the reference's F7 surface.

    The reference loads ``config/logging_config.ini`` with
    ``logging.config.fileConfig`` at job import time
    (job/sample_mysql_aws_sqs_job.py:16-18): root logger at INFO with
    one stdout ``StreamHandler`` (config/logging_config.ini:1-21).

    * ``ini_path`` given (or ``$LOGGING_CONFIG_FILE`` set): defer to
      ``fileConfig`` exactly like the reference, but with
      ``disable_existing_loggers=False`` so Spark/py4j module loggers
      created before bootstrap keep working — the ini-default ``True``
      silently kills them.
    * no ini: programmatic equivalent of the reference's ini — root at
      ``level`` with a single stdout handler using the same format.
      Idempotent: re-running replaces this module's own handler instead
      of stacking duplicates (the reference re-runs fileConfig per job
      import, which resets handlers; this mirrors that contract without
      touching handlers owned by anyone else, e.g. pytest's).

    Returns the root logger, matching ``LOGGER = logging.getLogger()``
    at job/sample_mysql_aws_sqs_job.py:18.
    """
    root = logging.getLogger()
    ini = ini_path or os.environ.get("LOGGING_CONFIG_FILE") or None
    if ini:
        logging.config.fileConfig(os.fspath(ini),
                                  disable_existing_loggers=False)
        return root
    for h in list(root.handlers):
        if getattr(h, _HANDLER_TAG, False):
            root.removeHandler(h)
    handler = logging.StreamHandler(sys.stdout)
    handler.setLevel(level)
    handler.setFormatter(logging.Formatter(_LOG_FORMAT))
    setattr(handler, _HANDLER_TAG, True)
    root.addHandler(handler)
    root.setLevel(level)
    return root


def env(name: str, default: str = "") -> str:
    """Env var with default — the reference's config idiom
    (job/sample_mysql_aws_sqs_job.py:21-32)."""
    return os.environ.get(name, default)
