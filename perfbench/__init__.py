"""Product-path benchmark of universql_spark; see README.md."""
