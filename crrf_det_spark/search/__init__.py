"""Search layer: DataFrame re-expression of the reference's ngram inverted
index + TFIDF query engine (/root/reference/src/search/index.js) and regex
batch search (/root/reference/src/s-pdf)."""

from .normalize import normalize_numbers_col, tokens_col, ngrams_col  # noqa: F401
from .index import build_index  # noqa: F401
from .query import parse_query, search, search_adhoc  # noqa: F401
from .regex_search import regex_search  # noqa: F401
