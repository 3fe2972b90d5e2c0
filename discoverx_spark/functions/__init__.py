from .keywords import (build_automaton, count_matches,
                       make_keyword_match_udf)
from .text import (token_count_expr, bpe_token_estimate_expr,
                   alpha_ratio_expr, digit_ratio_expr, punct_ratio_expr,
                   whitespace_only_expr, fingerprint_expr, normalize_text_expr,
                   langid_struct_expr, make_langid_udf, toxicity_exprs,
                   quality_classifier_expr, quality_classifier_join,
                   quality_classifier_frame,
                   LANG_STOPWORDS, TOXIC_KEYWORDS)
from .perplexity import make_perplexity_udf, perplexity_of, CHAR_LM
from .models import (save_char_lm, load_char_lm, save_term_weights,
                     load_term_weights, save_stopwords, load_stopwords,
                     broadcast_model)
from .ngram_lm import word_ngram_counts, stupid_backoff_score

__all__ = [
    "build_automaton", "count_matches", "make_keyword_match_udf",
    "word_ngram_counts", "stupid_backoff_score",
    "save_char_lm", "load_char_lm", "save_term_weights",
    "load_term_weights", "save_stopwords", "load_stopwords",
    "broadcast_model",
    "token_count_expr", "bpe_token_estimate_expr",
    "alpha_ratio_expr", "digit_ratio_expr", "punct_ratio_expr",
    "whitespace_only_expr", "fingerprint_expr", "normalize_text_expr",
    "langid_struct_expr", "make_langid_udf", "toxicity_exprs",
    "quality_classifier_expr", "quality_classifier_join",
    "quality_classifier_frame",
    "LANG_STOPWORDS", "TOXIC_KEYWORDS",
    "make_perplexity_udf", "perplexity_of", "CHAR_LM",
]
