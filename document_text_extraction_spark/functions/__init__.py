from .fields import (  # noqa: F401
    datelike_col,
    degrees_col,
    emails_col,
    experience_years_col,
    gpa_col,
    links_col,
    phones_col,
    skill_tokens_col,
    skills_col,
)
from .textstats import (  # noqa: F401
    avg_token_len_col,
    bpe_token_estimate_col,
    lang_id_col,
    quality_score_col,
    stopword_ratio_col,
    token_count_col,
)
