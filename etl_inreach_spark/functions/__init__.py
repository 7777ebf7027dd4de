"""Expression library (all JVM-side built-in expressions). The reference
pipeline's helpers (strings, nested, units) take and return SQL text
(sql.py); text and vectors build Columns."""
