"""Profile-based character-trigram language identification — the real
langID the r11 VERDICT asked for (``text.language_id`` is a 4-language
stopword heuristic; this is the operator a 100 TB pretraining pipeline
actually gates on, since language routes every downstream per-language
decision: mixture sampling, tokenizer fertility, per-lang quality
thresholds).

Model: per-language add-one-smoothed trigram unigram LM (the langid.py
/ CLD Naive-Bayes shape, built on character n-grams after Cavnar &
Trenkle's n-gram-profile insight): a document's score under language L
is the summed surprisal of its character trigrams under L's profile;
the prediction is the argmin-bits language. Profiles come from a
COMMITTED seed corpus (``LANGID_SEED`` below: hand-written sample
sentences in 16 languages covering Latin, Cyrillic, Greek, Arabic,
Devanagari, Han, Kana and Hangul scripts) and are derived with
INTEGER-ONLY Python at call time — tiny, deterministic, and exactly
re-derivable by a SQL oracle from the same seed literals, which is how
the ``language_id_profile`` driver key verifies this operator
end-to-end (DuckDB rebuilds profiles + scores + argmax independently).

Scale shape: the profile is bounded by construction (16 langs x
``top_k`` trigrams -> a few thousand rows, broadcast); scoring is one
explode -> (doc, trigram) count -> broadcast profile join -> per
(doc, lang) aggregate -> argmin. Everything is JVM expressions — no
UDF, no Python in the hot path; shuffles are keyed by doc id only.

Float portability (repo rule): per-trigram bits are rounded to 4
decimals BEFORE summation and accumulated as DECIMAL(18,6), so scores
are order-independent and libm-robust; the only floats are log2 calls
evaluated identically in Spark and DuckDB.

Degenerate posture (tests/test_degenerate_inputs.py contract): a doc
with no trigrams (NULL / shorter than 3 chars) comes back as an
explicit row with ``predicted_lang`` NULL and ``n_trigrams`` 0 — never
silently dropped by the explode.

No reference counterpart (the reference has no text-quality surface);
north-star extension. Case is NOT folded: case carries signal and
skipping the fold avoids locale-sensitive lower() divergence across
engines (Turkish dotted I, Greek final sigma).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Hand-written sample sentences (public-knowledge everyday prose echoing
# the Universal Declaration of Human Rights Article 1 plus generic
# sentences) — the committed training seed. Order fixed: it is part of
# the deterministic profile derivation.
LANGID_SEED: list[tuple[str, str]] = [
    ("ar", "يولد جميع الناس أحرارا متساوين في الكرامة والحقوق. وقد "
           "وهبوا عقلا وضميرا وعليهم أن يعامل بعضهم بعضا بروح الإخاء. "
           "هذه جملة بسيطة تحتوي على كثير من الكلمات العربية الشائعة. "
           "يلعب الأطفال في الحديقة ويجري الكلب في الشارع. ليس لدي وقت "
           "اليوم ولكن يمكننا أن نأكل معا غدا. في الشتاء تكون الجبال "
           "مغطاة بالثلوج وتتجمد البحيرة بالقرب من القرية الصغيرة. يحب "
           "الناس قراءة الكتب عن التاريخ والعلوم والفن بينما يشربون "
           "الشاي الساخن في المساء."),
    ("de", "Alle Menschen sind frei und gleich an Würde und Rechten "
           "geboren. Sie sind mit Vernunft und Gewissen begabt und "
           "sollen einander im Geist der Brüderlichkeit begegnen. Das "
           "ist ein einfacher Satz mit vielen häufigen deutschen "
           "Wörtern. Die Kinder spielen im Garten und der Hund läuft "
           "über die Straße. Ich habe heute keine Zeit, aber morgen "
           "können wir zusammen essen. Im Winter sind die Berge mit "
           "Schnee bedeckt und der See friert in der Nähe des kleinen "
           "Dorfes zu. Die Leute lesen gern Bücher über Geschichte, "
           "Wissenschaft und Kunst, während sie am Abend warmen Tee "
           "trinken."),
    ("el", "Όλοι οι άνθρωποι γεννιούνται ελεύθεροι και ίσοι στην "
           "αξιοπρέπεια και τα δικαιώματα. Είναι προικισμένοι με "
           "λογική και συνείδηση και οφείλουν να συμπεριφέρονται "
           "μεταξύ τους με πνεύμα αδελφοσύνης. Αυτή είναι μια απλή "
           "πρόταση με πολλές από τις πιο κοινές ελληνικές λέξεις. Τα "
           "παιδιά παίζουν στον κήπο και ο σκύλος τρέχει στον δρόμο. "
           "Δεν έχω χρόνο σήμερα, αλλά αύριο μπορούμε να φάμε μαζί. "
           "Τον χειμώνα τα βουνά είναι καλυμμένα με χιόνι και η λίμνη "
           "παγώνει κοντά στο μικρό χωριό. Στους ανθρώπους αρέσει να "
           "διαβάζουν βιβλία για την ιστορία, την επιστήμη και την "
           "τέχνη πίνοντας ζεστό τσάι το βράδυ."),
    ("en", "All human beings are born free and equal in dignity and "
           "rights. They are endowed with reason and conscience and "
           "should act towards one another in a spirit of brotherhood. "
           "This is a simple sentence that contains many of the most "
           "common English words. The children play in the garden and "
           "the dog runs across the street. I have no time today, but "
           "tomorrow we can eat together. In the winter the mountains "
           "are covered with snow and the lake freezes near the small "
           "village. People like to read books about history, science "
           "and art while they drink warm tea in the evening."),
    ("es", "Todos los seres humanos nacen libres e iguales en dignidad "
           "y derechos. Dotados como están de razón y conciencia, "
           "deben comportarse fraternalmente los unos con los otros. "
           "Esta es una frase sencilla con muchas de las palabras más "
           "comunes del español. Los niños juegan en el jardín y el "
           "perro corre por la calle. Hoy no tengo tiempo, pero mañana "
           "podemos comer juntos. En invierno las montañas están "
           "cubiertas de nieve y el lago se congela cerca del pequeño "
           "pueblo. A la gente le gusta leer libros sobre historia, "
           "ciencia y arte mientras toma té caliente por la noche."),
    ("fr", "Tous les êtres humains naissent libres et égaux en dignité "
           "et en droits. Ils sont doués de raison et de conscience et "
           "doivent agir les uns envers les autres dans un esprit de "
           "fraternité. Ceci est une phrase simple avec beaucoup de "
           "mots français très courants. Les enfants jouent dans le "
           "jardin et le chien court dans la rue. Je n'ai pas le temps "
           "aujourd'hui, mais demain nous pouvons manger ensemble. En "
           "hiver, les montagnes sont couvertes de neige et le lac "
           "gèle près du petit village. Les gens aiment lire des "
           "livres sur l'histoire, la science et l'art en buvant du "
           "thé chaud le soir."),
    ("hi", "सभी मनुष्य जन्म से स्वतंत्र तथा मर्यादा और अधिकारों में "
           "समान होते हैं। उन्हें बुद्धि और अंतरात्मा की देन प्राप्त "
           "है और परस्पर उन्हें भाईचारे के भाव से बर्ताव करना चाहिए। "
           "यह एक सरल वाक्य है जिसमें हिंदी के बहुत से सामान्य शब्द "
           "हैं। बच्चे बगीचे में खेलते हैं और कुत्ता सड़क पर दौड़ता "
           "है। आज मेरे पास समय नहीं है लेकिन कल हम साथ खा सकते हैं। "
           "सर्दियों में पहाड़ बर्फ से ढके रहते हैं और झील छोटे गांव "
           "के पास जम जाती है। लोग शाम को गर्म चाय पीते हुए इतिहास, "
           "विज्ञान और कला के बारे में किताबें पढ़ना पसंद करते हैं।"),
    ("it", "Tutti gli esseri umani nascono liberi ed eguali in dignità "
           "e diritti. Essi sono dotati di ragione e di coscienza e "
           "devono agire gli uni verso gli altri in spirito di "
           "fratellanza. Questa è una frase semplice con molte delle "
           "parole più comuni della lingua italiana. I bambini giocano "
           "in giardino e il cane corre per la strada. Oggi non ho "
           "tempo, ma domani possiamo mangiare insieme. In inverno le "
           "montagne sono coperte di neve e il lago si ghiaccia vicino "
           "al piccolo villaggio. Alla gente piace leggere libri di "
           "storia, scienza e arte mentre beve tè caldo la sera."),
    ("ja", "すべての人間は、生まれながらにして自由であり、かつ、尊厳と"
           "権利とについて平等である。人間は、理性と良心とを授けられて"
           "おり、互いに同胞の精神をもって行動しなければならない。これ"
           "は、日本語のよく使われる言葉を多く含む簡単な文です。子供た"
           "ちは庭で遊んでいて、犬は道を走っています。今日は時間があり"
           "ませんが、明日は一緒に食事ができます。冬には山が雪で覆われ"
           "、小さな村の近くで湖が凍ります。人々は夜に温かいお茶を飲み"
           "ながら、歴史や科学や芸術についての本を読むのが好きです。私"
           "たちの町にはたくさんの学校と病院があり、学生は毎朝バスで学"
           "校に行きます。駅の前には古い店があって、おいしいパンを売っ"
           "ています。"),
    ("ko", "모든 인간은 태어날 때부터 자유로우며 그 존엄과 권리에 있어 "
           "동등하다. 인간은 천부적으로 이성과 양심을 부여받았으며 서로 "
           "형제애의 정신으로 행동하여야 한다. 이것은 한국어에서 자주 "
           "쓰이는 단어를 많이 포함한 간단한 문장이다. 아이들은 "
           "정원에서 놀고 개는 거리에서 달린다. 오늘은 시간이 없지만 "
           "내일은 함께 식사할 수 있다. 겨울에는 산이 눈으로 덮이고 "
           "작은 마을 근처의 호수가 얼어붙는다. 사람들은 저녁에 따뜻한 "
           "차를 마시면서 역사와 과학과 예술에 관한 책을 읽는 것을 "
           "좋아한다. 우리 도시에는 많은 학교와 병원이 있고 학생들은 "
           "매일 아침 버스를 타고 학교에 간다."),
    ("nl", "Alle mensen worden vrij en gelijk in waardigheid en rechten "
           "geboren. Zij zijn begiftigd met verstand en geweten, en "
           "behoren zich jegens elkander in een geest van broederschap "
           "te gedragen. Dit is een eenvoudige zin met veel van de "
           "meest voorkomende Nederlandse woorden. De kinderen spelen "
           "in de tuin en de hond loopt over de straat. Ik heb vandaag "
           "geen tijd, maar morgen kunnen we samen eten. In de winter "
           "zijn de bergen bedekt met sneeuw en bevriest het meer bij "
           "het kleine dorp. Mensen lezen graag boeken over "
           "geschiedenis, wetenschap en kunst terwijl ze 's avonds "
           "warme thee drinken."),
    ("pt", "Todos os seres humanos nascem livres e iguais em dignidade "
           "e em direitos. Dotados de razão e de consciência, devem "
           "agir uns para com os outros em espírito de fraternidade. "
           "Esta é uma frase simples com muitas das palavras mais "
           "comuns da língua portuguesa. As crianças brincam no jardim "
           "e o cão corre pela rua. Hoje não tenho tempo, mas amanhã "
           "podemos comer juntos. No inverno as montanhas estão "
           "cobertas de neve e o lago congela perto da pequena aldeia. "
           "As pessoas gostam de ler livros sobre história, ciência e "
           "arte enquanto bebem chá quente à noite."),
    ("ru", "Все люди рождаются свободными и равными в своем "
           "достоинстве и правах. Они наделены разумом и совестью и "
           "должны поступать в отношении друг друга в духе братства. "
           "Это простое предложение со многими из самых "
           "распространенных русских слов. Дети играют в саду, а "
           "собака бежит по улице. Сегодня у меня нет времени, но "
           "завтра мы можем поесть вместе. Зимой горы покрыты снегом, "
           "и озеро замерзает рядом с маленькой деревней. Люди любят "
           "читать книги по истории, науке и искусству, когда вечером "
           "пьют горячий чай."),
    ("sv", "Alla människor är födda fria och lika i värde och "
           "rättigheter. De har utrustats med förnuft och samvete och "
           "bör handla gentemot varandra i en anda av gemenskap. Detta "
           "är en enkel mening med många av de vanligaste svenska "
           "orden. Barnen leker i trädgården och hunden springer över "
           "gatan. Jag har inte tid idag, men imorgon kan vi äta "
           "tillsammans. På vintern är bergen täckta med snö och sjön "
           "fryser nära den lilla byn. Folk tycker om att läsa böcker "
           "om historia, vetenskap och konst medan de dricker varmt te "
           "på kvällen."),
    ("tr", "Bütün insanlar hür, haysiyet ve haklar bakımından eşit "
           "doğarlar. Akıl ve vicdana sahiptirler ve birbirlerine "
           "karşı kardeşlik zihniyeti ile hareket etmelidirler. Bu, en "
           "yaygın Türkçe kelimelerin çoğunu içeren basit bir "
           "cümledir. Çocuklar bahçede oynuyor ve köpek sokakta "
           "koşuyor. Bugün vaktim yok ama yarın birlikte yemek "
           "yiyebiliriz. Kışın dağlar karla kaplıdır ve göl küçük "
           "köyün yakınında donar. İnsanlar akşamları sıcak çay "
           "içerken tarih, bilim ve sanat hakkında kitap okumayı "
           "severler. Şehrimizde birçok okul ve hastane vardır ve "
           "öğrenciler her sabah otobüsle okula giderler."),
    ("zh", "人人生而自由，在尊严和权利上一律平等。他们赋有理性和良心，"
           "并应以兄弟关系的精神相对待。这是一个包含许多常用汉语词语的"
           "简单句子。孩子们在花园里玩耍，狗在街上奔跑。我今天没有时间"
           "，但是明天我们可以一起吃饭。冬天的时候，山上覆盖着白雪，湖"
           "水在小村庄附近结冰。人们喜欢在晚上一边喝热茶，一边阅读关于"
           "历史、科学和艺术的书籍。我们的城市有很多学校和医院，学生们"
           "每天早上坐公共汽车去上学。火车站前面有一家老商店，卖很好吃"
           "的面包。"),
    ("vi", "Tất cả mọi người sinh ra đều được tự do và bình đẳng về "
           "nhân phẩm và quyền lợi. Mọi con người đều được tạo hóa ban "
           "cho lý trí và lương tâm và cần phải đối xử với nhau trong "
           "tình anh em. Đây là một câu đơn giản với nhiều từ tiếng "
           "Việt thông dụng. Trẻ em chơi trong vườn và con chó chạy "
           "trên đường phố. Hôm nay tôi không có thời gian, nhưng ngày "
           "mai chúng ta có thể ăn cùng nhau. Vào mùa đông, những ngọn "
           "núi được phủ đầy tuyết và hồ nước đóng băng gần ngôi làng "
           "nhỏ. Mọi người thích đọc sách về lịch sử, khoa học và nghệ "
           "thuật trong khi uống trà nóng vào buổi tối."),
]

LANGID_LANGS: list[str] = sorted(l for l, _ in LANGID_SEED)

# Held-out sentences (same authorship posture as the seed, DIFFERENT
# text) — the linguistic fixture the pytest suite and the driver oracle
# key classify; sharing them here keeps Spark query, oracle SQL and
# tests on one constant.
LANGID_HOLDOUT: list[tuple[str, str]] = [
    ("ar", "ذهبت إلى السوق في الصباح واشترت خبزا طازجا بما تبقى من "
           "مالها. التقت بصديق أمام المحطة ومشيا معا في الحديقة "
           "القديمة."),
    ("de", "Er ging am Abend durch die Stadt und kaufte frisches Brot "
           "für seine Familie und ihre Freunde. Vor dem Bahnhof traf "
           "er einen Freund und sie gingen zusammen durch den alten "
           "Park."),
    ("el", "Πήγε στην αγορά το πρωί και αγόρασε φρέσκο ψωμί με τα "
           "τελευταία της χρήματα. Συνάντησε έναν φίλο μπροστά στον "
           "σταθμό και περπάτησαν μαζί στο παλιό πάρκο."),
    ("en", "She walked to the market in the morning and bought fresh "
           "bread with the last of her money. She met a friend in "
           "front of the station and they walked together through the "
           "old park."),
    ("es", "Ella fue al mercado por la mañana y compró pan fresco con "
           "el resto de su dinero. Se encontró con un amigo delante "
           "de la estación y caminaron juntos por el parque viejo."),
    ("fr", "Elle est allée au marché le matin et a acheté du pain "
           "frais avec le reste de son argent. Elle a rencontré un "
           "ami devant la gare et ils ont marché ensemble dans le "
           "vieux parc."),
    ("hi", "वह सुबह बाजार गई और अपने बचे हुए पैसों से ताजा रोटी "
           "खरीदी। स्टेशन के सामने उसकी एक दोस्त से मुलाकात हुई और "
           "वे पुराने बगीचे में साथ टहलने लगे।"),
    ("it", "Lei è andata al mercato la mattina e ha comprato del pane "
           "fresco con il resto dei suoi soldi. Ha incontrato un "
           "amico davanti alla stazione e hanno camminato insieme nel "
           "vecchio parco."),
    ("ja", "彼女は朝、市場へ行って、残りのお金で新鮮なパンを買いました"
           "。駅の前で友達に会って、一緒に古い公園を散歩しました。"),
    ("ko", "그녀는 아침에 시장에 가서 남은 돈으로 신선한 빵을 샀다. 역 "
           "앞에서 친구를 만나 함께 오래된 공원을 산책했다."),
    ("nl", "Zij liep in de ochtend naar de markt en kocht vers brood "
           "met het laatste van haar geld. Voor het station ontmoette "
           "zij een vriend en ze wandelden samen door het oude park."),
    ("pt", "Ela foi ao mercado de manhã e comprou pão fresco com o "
           "resto do seu dinheiro. Encontrou um amigo em frente à "
           "estação e caminharam juntos pelo parque velho."),
    ("ru", "Утром она пошла на рынок и купила свежий хлеб на "
           "оставшиеся деньги. Перед вокзалом она встретила друга, и "
           "они вместе гуляли по старому парку."),
    ("sv", "Hon gick till marknaden på morgonen och köpte färskt bröd "
           "med det sista av sina pengar. Framför stationen mötte hon "
           "en vän och de promenerade tillsammans genom den gamla "
           "parken."),
    ("tr", "Sabah pazara gitti ve parasının geri kalanıyla taze ekmek "
           "aldı. İstasyonun önünde bir arkadaşıyla buluştu ve "
           "birlikte eski parkta yürüdüler."),
    ("vi", "Cô ấy đi chợ vào buổi sáng và mua bánh mì tươi với số "
           "tiền còn lại của mình. Cô gặp một người bạn trước nhà ga "
           "và họ cùng nhau đi dạo trong công viên cũ."),
    ("zh", "她早上去市场，用剩下的钱买了新鲜的面包。然后她在火车站前面"
           "遇到了朋友，一起在老公园里散步。"),
]

DEFAULT_TOP_K = 400


def _seed_trigrams(text: str) -> list[str]:
    """Overlapping character trigrams, codepoint-based — the exact
    semantics of ``text.char_trigrams`` (Spark) and the oracle's
    ``substr(text, i, 3)`` (DuckDB); all three engines index by
    codepoint here."""
    return [text[i:i + 3] for i in range(len(text) - 2)]


_PROFILE_CACHE: dict = {}
# Never persist or checkpoint a cached frame here: bench.py's
# _release_dead_rdd_blocks unpersists every persistent RDD between
# keys, so a checkpointed frame would fail its next read.
_PROFILE_DF_CACHE: dict = {}


def langid_profiles(top_k: int = DEFAULT_TOP_K
                    ) -> tuple[list[tuple[str, str, int]],
                               dict[str, int], int]:
    """Derive the language profiles from ``LANGID_SEED`` with
    INTEGER-ONLY arithmetic: per language, trigram counts ranked by
    (count DESC, trigram ASC — UTF-8 byte order == codepoint order for
    the tie-break in Python, Spark and DuckDB alike), top ``top_k``
    kept. Returns ``(rows, tot_by_lang, v)`` where ``rows`` is
    (lang, tri, cnt), ``tot_by_lang`` sums kept counts per language
    (the smoothing denominator base) and ``v`` is the count of
    DISTINCT kept trigrams across all languages (the add-one vocab
    term). Deterministic by construction — no floats, no hashing.

    Cached on ``top_k`` (optimization r12, guide §4.5): the profiles are
    a pure function of the committed seed literals — deriving them is
    Python work that used to run inside the timed region of every
    langID-keyed query run. Cached model CONSTANTS, not query results."""
    hit = _PROFILE_CACHE.get(top_k)
    if hit is not None:
        return (list(hit[0]), dict(hit[1]), hit[2])
    rows: list[tuple[str, str, int]] = []
    tot: dict[str, int] = {}
    vocab: set[str] = set()
    for lang, text in LANGID_SEED:
        counts: dict[str, int] = {}
        for t in _seed_trigrams(text):
            counts[t] = counts.get(t, 0) + 1
        kept = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = kept[:top_k]
        tot[lang] = sum(c for _, c in kept)
        vocab.update(t for t, _ in kept)
        rows.extend((lang, t, c) for t, c in kept)
    # cache immutable copies: handing every caller the same mutable
    # list/dict would let one caller's mutation corrupt all subsequent
    # profiles for the process lifetime (ADVICE r12)
    out = (tuple(rows), dict(tot), len(vocab))
    _PROFILE_CACHE[top_k] = out
    return (list(out[0]), dict(out[1]), out[2])


def language_id_profile(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        top_k: int = DEFAULT_TOP_K) -> DataFrame:
    """Predict each document's language against the committed trigram
    profiles: ``(id_col, predicted_lang, n_trigrams,
    bits_per_trigram)``.

    Per (doc, lang): ``bits = Σ_matched c·round(-log2((cnt+1)/(tot_L+V)),4)
    + n_unmatched·round(log2(tot_L+V),4)`` (add-one smoothing; every
    trigram absent from L's profile costs the uniform-unseen surprisal),
    accumulated in DECIMAL(18,6); prediction = argmin bits with the
    language code as deterministic tie-break. ``bits_per_trigram`` =
    round(bits/n, 6) — low for in-profile text, high for
    out-of-any-profile garbage, so it doubles as a confidence signal.

    Plan: explode → (doc, tri) count → broadcast profile join →
    (doc, lang) aggregate → per-doc argmin; the only non-broadcast
    shuffles are keyed by the doc id. Docs without trigrams return
    explicit NULL-prediction rows."""
    from thewhisperdb_spark.operators.text import char_trigrams

    rows, tots, v = langid_profiles(top_k)
    spark = df.sparkSession
    # per-session profile-frame cache (same rationale as the profile
    # cache above: static model constants; createDataFrame of ~7k rows
    # is driver work that otherwise repeats inside every timed run)
    dkey = (spark, top_k)
    hit = _PROFILE_DF_CACHE.get(dkey)
    if hit is not None:
        prof, stats = hit
    else:
        prof = spark.createDataFrame(
            rows, "lang string, tri string, cnt long")
        stats = spark.createDataFrame(sorted(tots.items()),
                                      "lang string, tot long")
        _PROFILE_DF_CACHE[dkey] = (prof, stats)
    d = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    tc = (d.select("id", F.explode(char_trigrams(F.col("t"))).alias("tri"))
          .groupBy("id", "tri").agg(F.count(F.lit(1)).alias("c")))
    ntot = tc.groupBy("id").agg(F.sum("c").alias("n_tot"))
    bits = F.round(-F.log2((F.col("cnt") + 1)
                           / (F.col("tot") + F.lit(v)).cast("double")),
                   4).cast("decimal(18,6)")
    matched = (tc.join(F.broadcast(prof), "tri")
               .join(F.broadcast(stats), "lang")
               .groupBy("id", "lang")
               .agg(F.sum(F.col("c") * bits).alias("mb"),
                    F.sum("c").alias("mc")))
    unseen = F.round(F.log2((F.col("tot") + F.lit(v)).cast("double")),
                     4).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    per_lang = (ntot
                .withColumn("lang", F.explode(
                    F.array(*[F.lit(l) for l in LANGID_LANGS])))
                .join(F.broadcast(stats), "lang")
                .join(matched, ["id", "lang"], "left")
                .withColumn(
                    "bits_total",
                    F.coalesce(F.col("mb"), zero)
                    + (F.col("n_tot") - F.coalesce(F.col("mc"), F.lit(0)))
                    * unseen))
    pick = (per_lang.groupBy("id")
            .agg(F.min(F.struct(F.col("bits_total"), F.col("lang")))
                 .alias("best"),
                 F.min("n_tot").alias("n_tot")))
    scored = pick.select(
        F.col("id"),
        F.col("best.lang").alias("predicted_lang"),
        F.col("n_tot").cast("long").alias("n_trigrams"),
        F.round(F.col("best.bits_total").cast("double") / F.col("n_tot"),
                6).alias("bits_per_trigram"))
    degen = (d.join(ntot, "id", "left_anti")
             .select("id",
                     F.lit(None).cast("string").alias("predicted_lang"),
                     F.lit(0).cast("long").alias("n_trigrams"),
                     F.lit(None).cast("double").alias("bits_per_trigram")))
    return (scored.unionByName(degen)
            .withColumnRenamed("id", id_col))


def perplexity_buckets(scored: DataFrame, lang_col: str = "predicted_lang",
                       score_col: str = "bits_per_trigram",
                       id_col: str = "doc_id") -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020):
    split each language's documents into ``head`` / ``middle`` / ``tail``
    thirds by LM surprisal — the canonical pretraining-corpus triage where
    head is kept, middle is kept-or-sampled and tail is dropped or routed
    to extra filtering. ``scored`` is typically ``language_id_profile``
    output (its ``bits_per_trigram`` IS the surprisal under the predicted
    language's own profile, i.e. CCNet's in-language perplexity).

    Cutoff semantics (percentile_disc, integer-deterministic): within a
    language with n scored docs, ``head_cut`` is the smallest score whose
    cumulative doc count reaches ceil(n/3) and ``tail_cut`` the smallest
    reaching ceil(2n/3); a doc's bucket is ``head`` if score <= head_cut,
    ``middle`` if <= tail_cut, else ``tail``. Ties share a score and
    therefore a bucket (no arbitrary intra-tie split), NULL-score rows
    (sub-trigram docs) come back as an explicit ``unscored`` bucket —
    never dropped. No interpolation, no floats beyond the already-rounded
    score column, so a SQL oracle reproduces the cuts exactly.

    Scale shape: the corpus-sized table is touched by ONE groupBy
    (lang, score) — scores are pre-rounded, so the distribution is a
    compressed histogram, not a per-doc sort. The cumulative window and
    the cut aggregation run over that tiny histogram only (CCNet's
    per-language shard sort, collapsed to its sufficient statistic), and
    the cuts (one row per language) broadcast back onto the corpus. A
    per-doc ntile() would instead sort every language partition in one
    task — the exact single-task skew this shape avoids at 100 TB.

    Returns ``scored``'s columns + ``bucket``.
    """
    s, l = F.col(score_col), F.col(lang_col)
    dist = (scored.filter(s.isNotNull())
            .groupBy(lang_col, score_col)
            .agg(F.count(F.lit(1)).cast("long").alias("c")))
    w_cum = (Window.partitionBy(lang_col).orderBy(score_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = Window.partitionBy(lang_col)
    cum = (dist
           .withColumn("cum", F.sum("c").over(w_cum))
           .withColumn("n", F.sum("c").over(w_all)))
    third = F.floor((F.col("n") + 2) / 3)
    two_thirds = F.floor((2 * F.col("n") + 2) / 3)
    cuts = (cum.groupBy(lang_col)
            .agg(F.min(F.when(F.col("cum") >= third, s)).alias("head_cut"),
                 F.min(F.when(F.col("cum") >= two_thirds, s))
                 .alias("tail_cut")))
    bucket = (F.when(s.isNull(), "unscored")
              .when(s <= F.col("head_cut"), "head")
              .when(s <= F.col("tail_cut"), "middle")
              .otherwise("tail"))
    return (scored.join(F.broadcast(cuts), [lang_col], "left")
            .select(*scored.columns, bucket.alias("bucket")))
