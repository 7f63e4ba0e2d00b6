"""Product-flow benchmark harness for schemamap_spark (see README.md)."""
