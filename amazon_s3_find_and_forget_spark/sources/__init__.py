"""File-format kernels, object-store protocol, versions, and CSE-KMS."""

from __future__ import annotations

from urllib.parse import unquote, urlsplit


def check_redact_columns(redact_columns: list | None) -> None:
    """The single redact-mode contract check, shared by both file
    kernels and the Forget plan entries: ``None`` = delete mode, a
    NON-EMPTY list = redact mode. An explicit ``[]`` would
    truthiness-fall-through to "keep the row, redact nothing" while
    still counting it deleted — never what the caller meant."""
    if redact_columns is not None and not redact_columns:
        raise ValueError(
            "redact_columns=[] is ambiguous: pass None for delete mode "
            "or a non-empty column list for redact mode"
        )


def object_path(uri: str) -> str:
    """The local path or store key that Spark's object URI names.

    ``input_file_name()`` percent-encodes: the file
    ``/lake a/dt=2020-01-01 00%3A00%3A00/part-0.parquet`` (Spark's own
    escaping of a timestamp partition value) reads back as
    ``file:///lake%20a/dt=2020-01-01%2000%253A00%253A00/part-0.parquet``.
    ``file:`` URIs become posix paths, other schemes keep their
    ``scheme://authority`` prefix with the key decoded, and a plain path
    (no scheme) is returned as it is.
    """
    parts = urlsplit(uri)
    if parts.scheme == "file":
        return unquote(parts.path)
    if parts.scheme:
        return f"{parts.scheme}://{parts.netloc}{unquote(parts.path)}"
    return uri
