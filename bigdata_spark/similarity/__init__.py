"""Similarity helpers over embedding columns; see ``ann``."""
