"""Plan-level helpers: explain and materialize utilities."""
