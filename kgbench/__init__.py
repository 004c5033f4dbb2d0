"""Per-change KG-construction benchmark (see README.md)."""
