"""Exception types, name-compatible with the reference.

Reference: pysemantic/errors.py (MissingProject, MissingConfigError,
ParserArgumentError) — same names/semantics so callers of the reference can
switch over without touching their error handling.
"""


class MissingProject(Exception):
    """Raised when a project is not found in the registry config."""


class MissingConfigError(Exception):
    """Raised when the registry config file (pysemantic.conf) is not found."""

    def __init__(self, message: str = "No pysemantic configuration file was found."):
        super().__init__(message)


class ParserArgumentError(Exception):
    """Raised when compiled reader arguments are invalid for the source."""


class SpecValidationError(Exception):
    """Raised at compile time when a YAML trait spec is malformed.

    Plays the role of traitlets' TraitError in the reference (bad
    dictionary fixtures raise at SchemaValidator construction).
    """


class DriftDetectedError(Exception):
    """Raised when a drift metric crosses its threshold and the spec's
    drift block declares ``on_drift: fail`` (north_star addition; the
    reference has no drift checks). Carries the drifted report rows."""

    def __init__(self, message: str, report=None):
        super().__init__(message)
        self.report = report


class EmbeddingDimensionError(ValueError):
    """Raised when an embedding row's length differs from the expected
    dimension — the operator's ``dim``, the centroids' width, or the first
    row of the block it is packed with."""

    def __init__(self, expected: int, found: int):
        super().__init__(f"embedding row has length {found}, expected {expected}")
        self.expected = expected
        self.found = found
