"""kgflow performance benchmark (see README.md)."""
