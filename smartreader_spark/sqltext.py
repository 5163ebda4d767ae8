"""SQL text built from Python values, for expressions handed to F.expr."""


def sql_string(s: str) -> str:
    """`s` as a Spark SQL string literal. Backslash and single quote are
    escaped (the default parser unescapes both), so any text — an
    apostrophe in a stopword — parses back to itself."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
