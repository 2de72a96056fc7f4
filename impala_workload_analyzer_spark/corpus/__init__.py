from .builder import corpus_fragments, corpus_operators, corpus_queries
from .corpus_sql import CORPUS_CTES, IDIV, with_corpus

__all__ = [
    "CORPUS_CTES",
    "IDIV",
    "with_corpus",
    "corpus_queries",
    "corpus_operators",
    "corpus_fragments",
]
