"""Semantic version of sketchlib (parity surface: /root/reference/version.go:27-49)."""

MAJOR = 0
MINOR = 1
PATCH = 0

__version__ = f"{MAJOR}.{MINOR}.{PATCH}"
