"""Scalar/column helper functions shared across plans (SURVEY.md §2.8)."""
