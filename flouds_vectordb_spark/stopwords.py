"""Pinned stop-word set.

The reference combines the NLTK english list with a large custom list
(reference: app/utils/stopwords_util.py:18-60 unions
nltk.corpus.stopwords.words('english') with the lowercased
app/config/stopwords.json entries). DEFAULT_STOPWORDS pins exactly that
union (both snapshots are data files, deterministic and oracle-checkable);
callers may still pass their own set to the text-filter builders.
"""

from __future__ import annotations

from flouds_vectordb_spark.stopwords_extra import ADDITIONAL_STOPWORDS

# NLTK english stopwords snapshot (public list, nltk.corpus.stopwords.words('english')).
NLTK_ENGLISH: tuple[str, ...] = (
    "i", "me", "my", "myself", "we", "our", "ours", "ourselves", "you",
    "you're", "you've", "you'll", "you'd", "your", "yours", "yourself",
    "yourselves", "he", "him", "his", "himself", "she", "she's", "her",
    "hers", "herself", "it", "it's", "its", "itself", "they", "them",
    "their", "theirs", "themselves", "what", "which", "who", "whom",
    "this", "that", "that'll", "these", "those", "am", "is", "are", "was",
    "were", "be", "been", "being", "have", "has", "had", "having", "do",
    "does", "did", "doing", "a", "an", "the", "and", "but", "if", "or",
    "because", "as", "until", "while", "of", "at", "by", "for", "with",
    "about", "against", "between", "into", "through", "during", "before",
    "after", "above", "below", "to", "from", "up", "down", "in", "out",
    "on", "off", "over", "under", "again", "further", "then", "once",
    "here", "there", "when", "where", "why", "how", "all", "any", "both",
    "each", "few", "more", "most", "other", "some", "such", "no", "nor",
    "not", "only", "own", "same", "so", "than", "too", "very", "s", "t",
    "can", "will", "just", "don", "don't", "should", "should've", "now",
    "d", "ll", "m", "o", "re", "ve", "y", "ain", "aren", "aren't",
    "couldn", "couldn't", "didn", "didn't", "doesn", "doesn't", "hadn",
    "hadn't", "hasn", "hasn't", "haven", "haven't", "isn", "isn't", "ma",
    "mightn", "mightn't", "mustn", "mustn't", "needn", "needn't", "shan",
    "shan't", "shouldn", "shouldn't", "wasn", "wasn't", "weren", "weren't",
    "won", "won't", "wouldn", "wouldn't",
)

# the reference's effective set: NLTK ∪ custom (stopwords_util.py:55)
DEFAULT_STOPWORDS: frozenset[str] = frozenset(NLTK_ENGLISH) | frozenset(
    ADDITIONAL_STOPWORDS
)

