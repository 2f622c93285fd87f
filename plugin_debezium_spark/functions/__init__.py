"""Scalar function surface: Connect wire decode, content hashing,
temporal conversions, text analysis (SURVEY.md §2.3 P7, §2.8)."""
