from docling_rag_spark.functions.tokens import count_tokens, token_spans


def test_empty():
    assert count_tokens("") == 0
    assert count_tokens(None) == 0


def test_words_and_punct():
    # 3 words + 1 period
    assert count_tokens("the quick fox.") == 4


def test_long_word_splits_bpe_ish():
    # 16-char word -> two 8-char pieces
    assert count_tokens("a" * 16) == 2
    assert count_tokens("a" * 17) == 3


def test_unicode():
    assert count_tokens("схема звезда") == 2


def test_spans_cover_tokens():
    text = "ab, cd"
    spans = token_spans(text)
    assert [text[a:b] for a, b in spans] == ["ab", ",", "cd"]
