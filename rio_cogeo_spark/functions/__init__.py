"""Function surface: tile math expressions, text analysis, vector ops."""
