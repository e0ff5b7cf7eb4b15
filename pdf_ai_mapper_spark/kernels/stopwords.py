"""Frozen stopword list, pinned verbatim from the reference.

The reference builds its stopword set in
``app/core/text_processing/text_preprocessor.py:22-93``: the NLTK
english list when available, else a basic fallback (:29-39), plus ~300
custom low-information words (:41-92).  NLTK is absent in our runtime
(and absent on a locked-down cluster), so the deterministic path —
the one the north rule's byte-identity applies to — is
``BASIC_STOPWORDS | ADDITIONAL_STOPWORDS``.  The list must be pinned
verbatim: a single differing word changes ``preprocessed_text`` bytes.
"""

from __future__ import annotations

# reference text_preprocessor.py:29-39 (fallback when NLTK data missing)
BASIC_STOPWORDS = frozenset({
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves', 'you', 'your', 'yours',
    'yourself', 'yourselves', 'he', 'him', 'his', 'himself', 'she', 'her', 'hers',
    'herself', 'it', 'its', 'itself', 'they', 'them', 'their', 'theirs', 'themselves',
    'what', 'which', 'who', 'whom', 'this', 'that', 'these', 'those', 'am', 'is', 'are',
    'was', 'were', 'be', 'been', 'being', 'have', 'has', 'had', 'having', 'do', 'does',
    'did', 'doing', 'a', 'an', 'the', 'and', 'but', 'if', 'or', 'because', 'as', 'until',
    'while', 'of', 'at', 'by', 'for', 'with', 'through', 'during', 'before', 'after',
    'above', 'below', 'up', 'down', 'in', 'out', 'on', 'off', 'over', 'under', 'again',
    'further', 'then', 'once',
})

# reference text_preprocessor.py:41-92 (always added)
ADDITIONAL_STOPWORDS = frozenset({
    'said', 'says', 'would', 'could', 'should', 'might', 'may', 'must', 'shall', 'will',
    'can', 'cannot', 'couldnt', 'wouldnt', 'shouldnt', 'dont', 'doesnt', 'didnt', 'wont', 'cant',
    'shant', 'aint', 'arent', 'isnt', 'wasnt', 'werent', 'havent', 'hasnt', 'hadnt',
    'do', 'does', 'did', 'done', 'doing', 'go', 'goes', 'went', 'gone', 'going',
    'get', 'gets', 'got', 'gotten', 'getting', 'come', 'comes', 'came', 'coming',
    'see', 'sees', 'saw', 'seen', 'seeing', 'know', 'knows', 'knew', 'known', 'knowing',
    'think', 'thinks', 'thought', 'thinking', 'make', 'makes', 'made', 'making',
    'take', 'takes', 'took', 'taken', 'taking', 'give', 'gives', 'gave', 'given', 'giving',
    'find', 'finds', 'found', 'finding', 'look', 'looks', 'looked', 'looking',
    'use', 'uses', 'used', 'using', 'work', 'works', 'worked', 'working',
    'call', 'calls', 'called', 'calling', 'try', 'tries', 'tried', 'trying',
    'ask', 'asks', 'asked', 'asking', 'need', 'needs', 'needed', 'needing',
    'feel', 'feels', 'felt', 'feeling', 'become', 'becomes', 'became', 'becoming',
    'leave', 'leaves', 'left', 'leaving', 'put', 'puts', 'putting',
    'tell', 'tells', 'told', 'telling', 'seem', 'seems', 'seemed', 'seeming',
    'let', 'lets', 'letting', 'help', 'helps', 'helped', 'helping',
    'keep', 'keeps', 'kept', 'keeping', 'turn', 'turns', 'turned', 'turning',
    'start', 'starts', 'started', 'starting', 'show', 'shows', 'showed', 'showing',
    'hear', 'hears', 'heard', 'hearing', 'play', 'plays', 'played', 'playing',
    'run', 'runs', 'ran', 'running', 'move', 'moves', 'moved', 'moving',
    'live', 'lives', 'lived', 'living', 'believe', 'believes', 'believed', 'believing',
    'hold', 'holds', 'held', 'holding', 'bring', 'brings', 'brought', 'bringing',
    'happen', 'happens', 'happened', 'happening', 'write', 'writes', 'wrote', 'written', 'writing',
    'provide', 'provides', 'provided', 'providing', 'sit', 'sits', 'sat', 'sitting',
    'stand', 'stands', 'stood', 'standing', 'lose', 'loses', 'lost', 'losing',
    'pay', 'pays', 'paid', 'paying', 'meet', 'meets', 'met', 'meeting',
    'include', 'includes', 'included', 'including', 'continue', 'continues', 'continued', 'continuing',
    'set', 'sets', 'setting', 'learn', 'learns', 'learned', 'learning',
    'change', 'changes', 'changed', 'changing', 'lead', 'leads', 'led', 'leading',
    'understand', 'understands', 'understood', 'understanding',
    'watch', 'watches', 'watched', 'watching', 'follow', 'follows', 'followed', 'following',
    'stop', 'stops', 'stopped', 'stopping', 'create', 'creates', 'created', 'creating',
    'speak', 'speaks', 'spoke', 'spoken', 'speaking', 'read', 'reads', 'reading',
    'allow', 'allows', 'allowed', 'allowing', 'add', 'adds', 'added', 'adding',
    'spend', 'spends', 'spent', 'spending', 'grow', 'grows', 'grew', 'grown', 'growing',
    'open', 'opens', 'opened', 'opening', 'walk', 'walks', 'walked', 'walking',
    'win', 'wins', 'won', 'winning', 'offer', 'offers', 'offered', 'offering',
    'remember', 'remembers', 'remembered', 'remembering', 'love', 'loves', 'loved', 'loving',
    'consider', 'considers', 'considered', 'considering', 'appear', 'appears', 'appeared', 'appearing',
    'buy', 'buys', 'bought', 'buying', 'wait', 'waits', 'waited', 'waiting',
    'serve', 'serves', 'served', 'serving', 'die', 'dies', 'died', 'dying',
    'send', 'sends', 'sent', 'sending', 'expect', 'expects', 'expected', 'expecting',
    'build', 'builds', 'built', 'building', 'stay', 'stays', 'stayed', 'staying',
    'fall', 'falls', 'fell', 'fallen', 'falling', 'cut', 'cuts', 'cutting',
    'reach', 'reaches', 'reached', 'reaching', 'kill', 'kills', 'killed', 'killing',
    'remain', 'remains', 'remained', 'remaining', 'suggest', 'suggests', 'suggested', 'suggesting',
    'raise', 'raises', 'raised', 'raising', 'pass', 'passes', 'passed', 'passing',
    'sell', 'sells', 'sold', 'selling', 'require', 'requires', 'required', 'requiring',
    'report', 'reports', 'reported', 'reporting', 'decide', 'decides', 'decided', 'deciding',
    'pull', 'pulls', 'pulled', 'pulling', 'like', 'ofthe', 'things', 'posterior', 'anterior', 'surface',
})

# The deterministic document-preprocessing stopword set (NLTK-absent path).
STOP_WORDS = frozenset(BASIC_STOPWORDS | ADDITIONAL_STOPWORDS)

# NLTK's published english stopword list (nltk_data
# corpora/stopwords/english, 179 words — public corpus, transcribed
# from its spec, NOT read from any nltk installation).  This is what
# reference text_preprocessor.py:26 loads when NLTK data is present;
# preprocess_text_nltk uses it.  The apostrophed entries
# ("you're", "don't", …) can never match a cleaned token — the T4
# cleanup strips apostrophes before tokenization — but they are kept
# verbatim so the set equals the reference's self.stop_words exactly.
NLTK_ENGLISH_STOPWORDS = frozenset({
    'i', 'me', 'my', 'myself', 'we', 'our', 'ours', 'ourselves',
    'you', "you're", "you've", "you'll", "you'd", 'your', 'yours',
    'yourself', 'yourselves', 'he', 'him', 'his', 'himself', 'she',
    "she's", 'her', 'hers', 'herself', 'it', "it's", 'its', 'itself',
    'they', 'them', 'their', 'theirs', 'themselves', 'what', 'which',
    'who', 'whom', 'this', 'that', "that'll", 'these', 'those', 'am',
    'is', 'are', 'was', 'were', 'be', 'been', 'being', 'have', 'has',
    'had', 'having', 'do', 'does', 'did', 'doing', 'a', 'an', 'the',
    'and', 'but', 'if', 'or', 'because', 'as', 'until', 'while', 'of',
    'at', 'by', 'for', 'with', 'about', 'against', 'between', 'into',
    'through', 'during', 'before', 'after', 'above', 'below', 'to',
    'from', 'up', 'down', 'in', 'out', 'on', 'off', 'over', 'under',
    'again', 'further', 'then', 'once', 'here', 'there', 'when',
    'where', 'why', 'how', 'all', 'any', 'both', 'each', 'few',
    'more', 'most', 'other', 'some', 'such', 'no', 'nor', 'not',
    'only', 'own', 'same', 'so', 'than', 'too', 'very', 's', 't',
    'can', 'will', 'just', 'don', "don't", 'should', "should've",
    'now', 'd', 'll', 'm', 'o', 're', 've', 'y', 'ain', 'aren',
    "aren't", 'couldn', "couldn't", 'didn', "didn't", 'doesn',
    "doesn't", 'hadn', "hadn't", 'hasn', "hasn't", 'haven', "haven't",
    'isn', "isn't", 'ma', 'mightn', "mightn't", 'mustn', "mustn't",
    'needn', "needn't", 'shan', "shan't", 'shouldn', "shouldn't",
    'wasn', "wasn't", 'weren', "weren't", 'won', "won't", 'wouldn',
    "wouldn't",
})

# The NLTK-present document-preprocessing stopword set
# (reference text_preprocessor.py:26 + :41-92).
NLTK_STOP_WORDS = frozenset(NLTK_ENGLISH_STOPWORDS | ADDITIONAL_STOPWORDS)

# Query-side stopwords (reference query_processor.py:22 uses the NLTK
# english list; the deterministic stand-in is the basic list).
QUERY_STOP_WORDS = BASIC_STOPWORDS

# Words the topic-namer rejects (reference category_manager.py:236, verbatim).
MEANINGLESS_WORDS = frozenset({
    'like', 'ofthe', 'things', 'posterior', 'anterior', 'surface',
})

# Topic-type keyword table (reference category_manager.py:273-282, verbatim).
TOPIC_KEYWORDS: dict[str, tuple[str, ...]] = {
    'Philosophy': ('philosophy', 'philosophical', 'ethics', 'moral', 'virtue', 'justice', 'kant', 'aristotle', 'plato'),
    'Science': ('science', 'scientific', 'research', 'study', 'mathematics', 'geometry', 'theorem', 'proof', 'euclid', 'mathematical', 'physics', 'chemistry', 'biology'),
    'Literature': ('literature', 'literary', 'novel', 'story', 'fiction', 'poetry', 'poem', 'author', 'writer', 'book', 'chapter', 'character'),
    'History': ('history', 'historical', 'ancient', 'classical', 'empire', 'war', 'battle', 'century', 'period', 'civilization'),
    'Technology': ('technology', 'technical', 'programming', 'computer', 'software', 'hardware', 'algorithm', 'data', 'system', 'digital'),
    'Art': ('art', 'artistic', 'painting', 'sculpture', 'design', 'creative', 'aesthetic', 'beauty', 'artist', 'gallery'),
    'Medicine': ('medicine', 'medical', 'health', 'disease', 'treatment', 'patient', 'doctor', 'hospital', 'surgery', 'anatomy'),
    'Economics': ('economics', 'economic', 'financial', 'money', 'business', 'market', 'trade', 'commerce', 'industry', 'capital'),
}
