"""Spark operators for dedup, curation, selection and layout."""


class InputRefused(ValueError):
    """A pipeline refuses its data, because running on would lose or
    corrupt rows; the message says what to do instead. ``warnings``
    holds the warning documents produced before the refusal."""

    def __init__(self, msg: str, warnings: list[dict] | None = None):
        super().__init__(msg)
        self.warnings = warnings or []
