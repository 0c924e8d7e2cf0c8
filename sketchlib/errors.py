"""Validation errors for sketch configuration.

Mirrors the sentinel-error surface of the reference library
(/root/reference/errors.go:5-17) with Python exception semantics.
Note the reference's ErrInvalidFingerprintSize message claims "1-8"
but its validation accepts 1-16 (options.go:36-39); code wins, so our
message says 1-16 (SURVEY.md §1.1 item 2).
"""

from __future__ import annotations


class SketchError(ValueError):
    """Base class for all sketchlib configuration/usage errors."""


class InvalidCapacityError(SketchError):
    def __init__(self) -> None:
        super().__init__("capacity must be greater than 0")


class InvalidBucketSizeError(SketchError):
    def __init__(self) -> None:
        super().__init__("bucket size must be one of 2, 4, 8, 16, 32, 64")


class InvalidFingerprintSizeError(SketchError):
    def __init__(self) -> None:
        super().__init__("fingerprint size must be between 1 and 16 bits")


class InvalidHashStrategyError(SketchError):
    def __init__(self, strategy: str) -> None:
        super().__init__(
            f"unknown hash strategy {strategy!r}; expected one of 'fnv', 'crc32c', 'xx'"
        )


class GeometryMismatchError(SketchError):
    """Raised when merging sketches with incompatible configuration."""

    def __init__(self, detail: str) -> None:
        super().__init__(f"cannot merge sketches with mismatched geometry: {detail}")


class CorruptBlobError(SketchError):
    """Raised when a sketch blob is truncated or extended, fails its
    checksum, or names a kind, version or geometry this build cannot load."""


class CheckpointMismatchError(SketchError):
    """Raised when a checkpoint or state dir was written by a different
    build — sketch kind, key, partitioning, row layout, shard routing or
    streaming state layout — than the one about to resume or extend it."""
