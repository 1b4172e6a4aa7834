"""Java-properties-style configuration loader.

Key set mirrors the reference's ``application.properties``
(`/root/reference/src/main/resources/application.properties:1-8`):
``bucketName``, ``prefix``, ``SourceFilePath``, ``ParquetFilePath``,
``s3.accessKey``, ``s3.secretKey``, ``s3.endpoint``, ``s3.region``.

:func:`env_int` reads the engine's integer env knobs.
"""

from __future__ import annotations

import os


def env_int(name: str, default: int | None = None) -> int | None:
    """The integer value of env var ``name``, or ``default`` when it is
    unset or empty. A value that is not an integer raises a ``ValueError``
    naming the variable and the value."""
    raw = os.environ.get(name)
    if not raw:
        return default
    try:
        return int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r}: expected an integer") from None


def load_properties(path: str) -> dict[str, str]:
    """Minimal .properties parser: ``key=value`` lines, ``#``/``!`` comments."""
    props: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith(("#", "!")):
                continue
            if "=" in line:
                key, _, value = line.partition("=")
                props[key.strip()] = value.strip()
    return props


REQUIRED_KEYS = ("bucketName", "prefix", "SourceFilePath", "ParquetFilePath")
S3_KEYS = ("s3.accessKey", "s3.secretKey", "s3.endpoint", "s3.region")


def validate(props: dict[str, str], require_s3: bool = False) -> dict[str, str]:
    missing = [k for k in REQUIRED_KEYS if not props.get(k)]
    if require_s3:
        missing += [k for k in S3_KEYS if not props.get(k)]
    if missing:
        raise ValueError(f"Missing config keys: {missing}")
    return props
