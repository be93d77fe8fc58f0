"""Reference env-var config surface (main.go:17-66 + launch yml).

The reference deployment configures everything through environment
variables (launch/kinesis-to-firehose-log-archive.yml names them; the
KCL template consumes the KINESIS_* block). This module maps those
EXACT names onto the Spark pipeline's config objects with the
reference's failure semantics:

- a missing/empty required var is a hard error naming the var
  (getEnv, main.go:17-23 — Go's Getenv returns "" for unset and the
  reference fatals on "");
- READ_RATE_LIMIT must parse as an int (getEnvInt, main.go:25-33);
- LOG_FILE gains a ".<timestamp>.log" suffix (main.go:46, Go layout
  2006-01-02T15:04:05) — the clock is injectable so tests pin it;
- the batch bounds are the reference constants (10 s / 500 records /
  4 MiB, main.go:47-50) that streaming/firehose.py defines; like the
  reference, they are not env-tunable, so they are not config here.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass
from datetime import datetime

from kinesis_to_firehose_spark.streaming.pipeline import KinesisSourceConfig

REQUIRED_ENV = (
    "KINESIS_AWS_REGION",
    "KINESIS_STREAM_NAME",
    "KINESIS_APPLICATION_NAME",
    "KINESIS_INITIAL_POSITION",
    "FIREHOSE_AWS_REGION",
    "FIREHOSE_STREAM_NAME",
    "FIREHOSE_AWS_ENDPOINT",
    "LOG_FILE",
    "READ_RATE_LIMIT",
    "_DEPLOY_ENV",  # main.go:56 reads _DEPLOY_ENV (launch yml: DEPLOY_ENV)
)


@dataclass(frozen=True)
class PipelineEnvConfig:
    """The fully-resolved pipeline configuration, reference-shaped."""

    source: KinesisSourceConfig
    deploy_env: str
    firehose_region: str
    firehose_stream: str
    firehose_endpoint: str
    failed_logs_file: str


def _get_env(env: Mapping[str, str], var: str) -> str:
    val = env.get(var, "")
    if val == "":
        raise ValueError(f"Must specify env variable {var}")
    return val


def _get_env_int(env: Mapping[str, str], var: str) -> int:
    raw = _get_env(env, var)
    try:
        return int(raw)
    except ValueError:
        raise ValueError(
            f"Env variable {var} must be an int instead of '{raw}'"
        ) from None


def config_from_env(
    env: Mapping[str, str] | None = None,
    now: datetime | None = None,
) -> PipelineEnvConfig:
    """Resolve the reference's env surface into pipeline config. Pass
    `env` explicitly in tests; defaults to os.environ. `now` pins the
    LOG_FILE timestamp suffix."""
    import os

    if env is None:
        env = os.environ
    if now is None:
        now = datetime.now()
    suffix = "." + now.strftime("%Y-%m-%dT%H:%M:%S") + ".log"
    source = KinesisSourceConfig(
        stream_name=_get_env(env, "KINESIS_STREAM_NAME"),
        region=_get_env(env, "KINESIS_AWS_REGION"),
        app_name=_get_env(env, "KINESIS_APPLICATION_NAME"),
        initial_position=_get_env(env, "KINESIS_INITIAL_POSITION"),
        read_rate_limit=_get_env_int(env, "READ_RATE_LIMIT"),
    )
    return PipelineEnvConfig(
        source=source,
        deploy_env=_get_env(env, "_DEPLOY_ENV"),
        firehose_region=_get_env(env, "FIREHOSE_AWS_REGION"),
        firehose_stream=_get_env(env, "FIREHOSE_STREAM_NAME"),
        firehose_endpoint=_get_env(env, "FIREHOSE_AWS_ENDPOINT"),
        failed_logs_file=_get_env(env, "LOG_FILE") + suffix,
    )
