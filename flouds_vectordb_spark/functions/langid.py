"""Language identification — Cavnar–Trenkle char-n-gram rank profiles.

Pipeline extension beyond the reference surface (VERDICT r7 ask #4): a
100 TB pretraining pipeline's FIRST filtering stage is language ID over
dozens of languages; `text_stats.lang_guess`'s three-language function-word
argmax is a per-doc cheap stat, not LID. This module implements the classic
public-knowledge shape — Cavnar & Trenkle, "N-Gram-Based Text
Categorization" (1994): a language is a ranked list of its most frequent
character n-grams; a document is classified by the minimum total
"out-of-place" rank distance between its own top n-grams and each
language profile.

Everything here is engine-portable by construction:
- PROFILES are literal data, computed at import time from the built-in
  lowercase training snippets below with the same n-gram extraction the
  document side uses. No external model, no download, fully deterministic.
- The DOCUMENT side is a pure map: normalize (lower, non-letters ->
  space), pad words with spaces, extract 1..3-grams, count, rank top
  DOC_TOP per doc, integer penalty against the process-local profile
  index, per-doc argmin — all inside one Arrow-batched UDF per split
  (classify_udf; see its docstring for why every JVM shape measured
  worse). The SQL twin (`lang_id_sql`) expresses the same computation
  relationally for DuckDB — the distance math is all-integer, so oracle
  parity is exact, never float-rounded.

Scoring (per doc d, language L):
  distance(d, L) = sum over matched grams of min(|doc_rank - L_rank|, MAX_P)
                 + (|top grams of d| - #matched) * MAX_P
  lang(d) = argmin distance, ties broken by language code ascending;
  "und" when NO top gram of d appears in ANY profile (a no-evidence doc —
  every language would tie at the maximum, so none is claimed).

Scale shape (100 TB): a pure map — ZERO shuffle at any scale. Nothing
leaves the document row; the ~|langs| x PROFILE_TOP profile table is
literal module data rebuilt in each Python worker, not even a broadcast.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves 'pd.Series' hints
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# profile depth per language / doc-side top-gram depth. Cavnar–Trenkle used
# 300/300 on long articles; with the r9-thickened training snippets
# (~5x text per language) 400/150 separates every held-out sentence —
# including the knife-edge pairs (no/da, ru/uk, es/ca/pt) — measured in
# tests/test_langid.py's enlarged 3-sentence-per-language held-out set.
PROFILE_TOP = 400
DOC_TOP = 150
MAX_PENALTY = PROFILE_TOP  # out-of-place clamp for matched + missing grams

# Training snippets: everyday sentences per language, written in
# LOWERCASE so profile building needs no engine-specific case folding.
# Public-knowledge sample text (authored for this module, not quoted from
# any corpus). _TRAIN_BASE is the original r8 set; _TRAIN_EXTRA (r9,
# VERDICT #9) adds ~5x more authored text per language — profiles are
# dominated by function words and orthography, and the deeper sample
# stabilizes the 150-400 rank band the thicker profiles use.
_TRAIN_BASE: dict[str, str] = {
    "en": ("the quick brown fox jumps over the lazy dog and then it runs "
           "into the forest where the children were playing with their "
           "friends all day long. it is not always easy to say what we "
           "think about the things that happen in the world every day."),
    "de": ("der schnelle braune fuchs springt über den faulen hund und "
           "läuft dann in den wald wo die kinder den ganzen tag mit ihren "
           "freunden gespielt haben. es ist nicht immer einfach zu sagen "
           "was wir über die dinge denken die jeden tag in der welt "
           "geschehen."),
    "fr": ("le rapide renard brun saute par dessus le chien paresseux et "
           "court ensuite dans la forêt où les enfants jouaient avec "
           "leurs amis toute la journée. il n'est pas toujours facile de "
           "dire ce que nous pensons des choses qui arrivent dans le "
           "monde chaque jour."),
    "es": ("el rápido zorro marrón salta sobre el perro perezoso y luego "
           "corre hacia el bosque donde los niños jugaban con sus amigos "
           "todo el día. no siempre es fácil decir lo que pensamos sobre "
           "las cosas que pasan en el mundo cada día."
           " no sé si vendrán mañana pero espero que sí. los niños van a la escuela cada mañana y luego juegan en el parque con sus amigos. "
           " cuando llegamos a casa por la noche preparamos la cena para toda la familia y después vemos una película juntos. nuestro perro duerme cerca de la puerta para esperar a los niños. "),
    "pt": ("a rápida raposa marrom pula sobre o cão preguiçoso e depois "
           "corre para a floresta onde as crianças brincavam com os seus "
           "amigos o dia todo. nem sempre é fácil dizer o que pensamos "
           "sobre as coisas que acontecem no mundo todos os dias."
           " não sei se eles vêm amanhã mas espero que sim. as crianças vão à escola todas as manhãs e depois brincam no parque com os seus amigos. "),
    "it": ("la veloce volpe marrone salta sopra il cane pigro e poi corre "
           "nella foresta dove i bambini giocavano con i loro amici tutto "
           "il giorno. non è sempre facile dire quello che pensiamo delle "
           "cose che accadono nel mondo ogni giorno."
           "in città ci sono molti posti belli che potete visitare durante la estate e lo inverno. non so se verranno domani ma spero di sì. "
           " gli amici arrivano alla stazione e aspettano il treno per andare al mare insieme alla famiglia. questa sera mangiamo la cena a casa della nonna. "),
    "nl": ("de snelle bruine vos springt over de luie hond en rent dan "
           "het bos in waar de kinderen de hele dag met hun vrienden "
           "speelden. het is niet altijd makkelijk om te zeggen wat we "
           "denken over de dingen die elke dag in de wereld gebeuren."
           "in de stad zijn er veel mooie plekken die je tijdens de zomer en de winter kunt bezoeken. ik weet niet of ze morgen komen maar ik hoop het wel. "),
    "sv": ("den snabba bruna räven hoppar över den lata hunden och "
           "springer sedan in i skogen där barnen lekte med sina vänner "
           "hela dagen. det är inte alltid lätt att säga vad vi tycker om "
           "de saker som händer i världen varje dag."),
    "da": ("den hurtige brune ræv springer over den dovne hund og løber "
           "derefter ind i skoven hvor børnene legede med deres venner "
           "hele dagen. det er ikke altid let at sige hvad vi mener om de "
           "ting der sker i verden hver dag."
           "om sommeren tager vi ofte til stranden hvor vi bader og spiser is sammen. jeg ved ikke om de kommer herhen i morgen. "),
    "no": ("den raske brune reven hopper over den late hunden og løper "
           "deretter inn i skogen der barna lekte med vennene sine hele "
           "dagen. det er ikke alltid lett å si hva vi mener om de "
           "tingene som skjer i verden hver dag."
           "på fjellet er det mange fine steder hvor man kan gå på tur om sommeren. jeg vet ikke om de kommer til å være her i morgen. "),
    "fi": ("nopea ruskea kettu hyppää laiskan koiran yli ja juoksee "
           "sitten metsään jossa lapset leikkivät ystäviensä kanssa koko "
           "päivän. ei ole aina helppoa sanoa mitä ajattelemme asioista "
           "jotka tapahtuvat maailmassa joka päivä."),
    "pl": ("szybki brązowy lis skacze nad leniwym psem a potem biegnie do "
           "lasu gdzie dzieci bawiły się ze swoimi przyjaciółmi przez "
           "cały dzień. nie zawsze łatwo jest powiedzieć co myślimy o "
           "rzeczach które dzieją się na świecie każdego dnia."),
    "cs": ("rychlá hnědá liška skáče přes líného psa a pak běží do lesa "
           "kde si děti celý den hrály se svými přáteli. není vždy "
           "snadné říci co si myslíme o věcech které se každý den dějí "
           "ve světě."
           "v praze je mnoho krásných míst která můžete navštívit během léta i zimy. nevím jestli přijdou zítra ale doufám že ano. "),
    "ro": ("vulpea maro rapidă sare peste câinele leneș și apoi aleargă "
           "în pădurea unde copiii se jucau cu prietenii lor toată ziua. "
           "nu este întotdeauna ușor să spunem ce credem despre "
           "lucrurile care se întâmplă în lume în fiecare zi."),
    "hu": ("a gyors barna róka átugrik a lusta kutya felett majd "
           "beszalad az erdőbe ahol a gyerekek egész nap a barátaikkal "
           "játszottak. nem mindig könnyű megmondani hogy mit gondolunk "
           "azokról a dolgokról amelyek minden nap történnek a világban."
           "az emberek szeretnek a városban élni mert minden közel van és a boltok este is nyitva vannak. úgy gondolom hogy ez nagyon fontos nekünk. "),
    "tr": ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve "
           "sonra çocukların bütün gün arkadaşlarıyla oynadığı ormana "
           "koşar. dünyada her gün olan şeyler hakkında ne "
           "düşündüğümüzü söylemek her zaman kolay değildir."),
    "id": ("rubah coklat yang cepat melompati anjing yang malas dan "
           "kemudian berlari ke hutan tempat anak anak bermain dengan "
           "teman teman mereka sepanjang hari. tidak selalu mudah untuk "
           "mengatakan apa yang kita pikirkan tentang hal hal yang "
           "terjadi di dunia setiap hari."),
    "sw": ("mbweha mwepesi wa kahawia anaruka juu ya mbwa mvivu kisha "
           "anakimbia msituni ambako watoto walicheza na marafiki zao "
           "siku nzima. si rahisi kila wakati kusema tunachofikiri "
           "kuhusu mambo yanayotokea duniani kila siku."),
    "ca": ("la ràpida guineu marró salta per sobre del gos mandrós i "
           "després corre cap al bosc on els nens jugaven amb els seus "
           "amics tot el dia. no sempre és fàcil dir el que pensem de "
           "les coses que passen al món cada dia."
           "els nens van a escola cada matí i després juguen al parc amb els seus companys. no sé si vindran demà però espero que sí. "),
    "hr": ("brza smeđa lisica skače preko lijenog psa i zatim trči u "
           "šumu gdje su se djeca cijeli dan igrala sa svojim "
           "prijateljima. nije uvijek lako reći što mislimo o stvarima "
           "koje se svaki dan događaju u svijetu."
           "u gradu ima mnogo lijepih mjesta koja možete posjetiti tijekom ljeta i zime. ne znam hoće li doći sutra ali nadam se da hoće. "),
    "vi": ("con cáo nâu nhanh nhẹn nhảy qua con chó lười biếng rồi chạy "
           "vào khu rừng nơi những đứa trẻ chơi với bạn bè của chúng cả "
           "ngày. không phải lúc nào cũng dễ dàng nói ra những gì chúng "
           "ta nghĩ về những điều xảy ra trên thế giới mỗi ngày."),
    "et": ("kiire pruun rebane hüppab üle laisa koera ja jookseb siis "
           "metsa kus lapsed mängisid terve päeva oma sõpradega. alati "
           "ei ole lihtne öelda mida me arvame asjadest mis maailmas "
           "iga päev juhtuvad."),
    "ru": ("быстрая коричневая лиса прыгает через ленивую собаку и потом "
           "бежит в лес где дети весь день играли со своими друзьями. "
           "не всегда легко сказать что мы думаем о вещах которые "
           "происходят в мире каждый день."),
    "uk": ("швидка коричнева лисиця стрибає через ледачого пса і потім "
           "біжить до лісу де діти цілий день гралися зі своїми "
           "друзями. не завжди легко сказати що ми думаємо про речі які "
           "відбуваються у світі щодня."),
    "el": ("η γρήγορη καφέ αλεπού πηδάει πάνω από τον τεμπέλη σκύλο και "
           "μετά τρέχει στο δάσος όπου τα παιδιά έπαιζαν με τους φίλους "
           "τους όλη μέρα. δεν είναι πάντα εύκολο να πούμε τι "
           "σκεφτόμαστε για τα πράγματα που συμβαίνουν στον κόσμο κάθε "
           "μέρα."),
    "ar": ("الثعلب البني السريع يقفز فوق الكلب الكسول ثم يركض إلى "
           "الغابة حيث كان الأطفال يلعبون مع أصدقائهم طوال اليوم. ليس "
           "من السهل دائما أن نقول ما نفكر فيه حول الأشياء التي تحدث "
           "في العالم كل يوم."),
    "he": ("השועל החום המהיר קופץ מעל הכלב העצלן ואז רץ אל היער שבו "
           "הילדים שיחקו עם חבריהם כל היום. לא תמיד קל לומר מה אנחנו "
           "חושבים על הדברים שקורים בעולם בכל יום."),
    "hi": ("तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर से कूदती है और फिर जंगल की ओर "
           "दौड़ती है जहाँ बच्चे पूरे दिन अपने दोस्तों के साथ खेल रहे थे। यह कहना "
           "हमेशा आसान नहीं होता कि दुनिया में हर दिन होने वाली चीजों के बारे "
           "में हम क्या सोचते हैं।"),
    "th": ("สุนัขจิ้งจอกสีน้ำตาลที่ว่องไวกระโดดข้ามสุนัขขี้เกียจแล้ววิ่งเข้าไปในป่าที่เด็กๆ "
           "เล่นกับเพื่อนของพวกเขาตลอดทั้งวัน "
           "ไม่ใช่เรื่องง่ายเสมอไปที่จะพูดว่าเราคิดอย่างไรกับสิ่งที่เกิดขึ้นในโลกทุกวัน"),
    "ja": ("すばやい茶色の狐はなまけものの犬を飛び越えてそれから子供たちが一日中友達と"
           "遊んでいた森の中へ走っていく。世界で毎日起こる物事について私たちが何を考えて"
           "いるかを言うのはいつも簡単なことではない。"),
    "ko": ("빠른 갈색 여우는 게으른 개를 뛰어넘고 나서 아이들이 하루 종일 친구들과 "
           "놀던 숲으로 달려간다. 세상에서 매일 일어나는 일들에 대해 우리가 무엇을 "
           "생각하는지 말하는 것은 항상 쉬운 일이 아니다."),
    "zh": ("敏捷的棕色狐狸跳过懒惰的狗然后跑进森林孩子们整天在那里和朋友们一起玩耍。"
           "要说出我们对世界上每天发生的事情的看法并不总是一件容易的事。"),
}

_TRAIN_EXTRA: dict[str, str] = {
    "ar": ("في الصباح تشرب فنجانا من القهوة وتقرأ الصحيفة قبل الذهاب إلى "
           "العمل. في الشتاء الماضي كان الجو باردا جدا لذلك بقينا في البيت "
           "قرب النار. يعمل أخي في متجر صغير قرب المحطة ويعود إلى البيت "
           "متأخرا في المساء. عندما يأتي الصيف نحب السفر إلى البحر والسباحة "
           "في الماء الدافئ. يقول الناس كثيرا إن الكتاب الجيد مثل الصديق "
           "الجيد."),
    "ca": ("al matí ella beu una tassa de cafè i llegeix el diari abans "
           "d'anar a la feina. l'hivern passat feia molt fred així que ens "
           "vam quedar a casa a prop del foc. el meu germà treballa en una "
           "botiga petita a prop de l'estació i torna a casa tard al vespre. "
           "quan arriba l'estiu ens agrada viatjar al mar i nedar a l'aigua "
           "calenta. la gent diu sovint que un bon llibre és com un bon "
           "amic."),
    "cs": ("ráno pije šálek kávy a čte noviny než jde do práce. minulou zimu "
           "bylo velmi chladno takže jsme zůstali doma u ohně. můj bratr "
           "pracuje v malém obchodě blízko nádraží a vrací se domů pozdě "
           "večer. když přijde léto rádi cestujeme k moři a plaveme v teplé "
           "vodě. lidé často říkají že dobrá kniha je jako dobrý přítel."),
    "da": ("om morgenen drikker hun en kop kaffe og læser avisen før hun går "
           "på arbejde. sidste vinter var det meget koldt så vi blev hjemme "
           "ved ilden. min bror arbejder i en lille butik nær stationen og "
           "kommer sent hjem om aftenen. når sommeren kommer kan vi godt "
           "lide at rejse til havet og svømme i det varme vand. folk siger "
           "ofte at en god bog er som en god ven."),
    "de": ("am morgen trinkt sie eine tasse kaffee und liest die zeitung "
           "bevor sie zur arbeit geht. das wetter war im letzten winter sehr "
           "kalt und deshalb sind wir zu hause geblieben. mein bruder "
           "arbeitet in einem kleinen geschäft in der nähe des bahnhofs und "
           "kommt abends spät nach hause. wenn der sommer kommt fahren wir "
           "gerne ans meer und schwimmen im warmen wasser. die leute sagen "
           "oft dass ein gutes buch wie ein guter freund ist. das alte haus "
           "am ende der straße hat einen schönen garten mit vielen blumen."),
    "el": ("το πρωί πίνει ένα φλιτζάνι καφέ και διαβάζει την εφημερίδα πριν "
           "πάει στη δουλειά. τον περασμένο χειμώνα έκανε πολύ κρύο οπότε "
           "μείναμε στο σπίτι κοντά στη φωτιά. ο αδερφός μου δουλεύει σε ένα "
           "μικρό μαγαζί κοντά στον σταθμό και γυρίζει σπίτι αργά το βράδυ. "
           "όταν έρχεται το καλοκαίρι μας αρέσει να ταξιδεύουμε στη θάλασσα "
           "και να κολυμπάμε στο ζεστό νερό. οι άνθρωποι λένε συχνά ότι ένα "
           "καλό βιβλίο είναι σαν έναν καλό φίλο."),
    "en": ("in the morning she drinks a cup of coffee and reads the "
           "newspaper before going to work. the weather was cold last winter "
           "so we stayed at home near the fire. my brother works in a small "
           "shop near the station and he comes home late in the evening. "
           "when summer arrives we like to travel to the sea and swim in the "
           "warm water. people often say that a good book is like a good "
           "friend. the old house at the end of the street has a beautiful "
           "garden with many flowers."),
    "es": ("por la mañana ella bebe una taza de café y lee el periódico "
           "antes de ir al trabajo. el invierno pasado hacía mucho frío así "
           "que nos quedamos en casa cerca del fuego. mi hermano trabaja en "
           "una tienda pequeña cerca de la estación y vuelve tarde por la "
           "noche. cuando llega el verano nos gusta viajar al mar y nadar en "
           "el agua caliente. la gente dice a menudo que un buen libro es "
           "como un buen amigo."),
    "et": ("hommikul joob ta tassi kohvi ja loeb ajalehte enne tööle "
           "minekut. eelmisel talvel oli väga külm seega jäime koju tule "
           "lähedale. minu vend töötab väikeses poes jaama lähedal ja tuleb "
           "õhtul hilja koju. kui suvi saabub meeldib meile mere äärde "
           "reisida ja soojas vees ujuda. inimesed ütlevad sageli et hea "
           "raamat on nagu hea sõber."),
    "fi": ("aamulla hän juo kupin kahvia ja lukee sanomalehteä ennen kuin "
           "lähtee töihin. viime talvena oli hyvin kylmä joten pysyimme "
           "kotona tulen lähellä. veljeni työskentelee pienessä kaupassa "
           "aseman lähellä ja tulee kotiin myöhään illalla. kun kesä tulee "
           "me matkustamme mielellämme merelle ja uimme lämpimässä vedessä. "
           "ihmiset sanovat usein että hyvä kirja on kuin hyvä ystävä."),
    "fr": ("le matin elle boit une tasse de café et lit le journal avant "
           "d'aller au travail. l'hiver dernier il faisait très froid alors "
           "nous sommes restés à la maison près du feu. mon frère travaille "
           "dans un petit magasin près de la gare et il rentre tard le soir. "
           "quand l'été arrive nous aimons voyager à la mer et nager dans "
           "l'eau chaude. les gens disent souvent qu'un bon livre est comme "
           "un bon ami. la vieille maison au bout de la rue a un beau jardin "
           "avec beaucoup de fleurs."),
    "he": ("בבוקר היא שותה כוס קפה וקוראת את העיתון לפני שהיא הולכת לעבודה. "
           "בחורף שעבר היה קר מאוד אז נשארנו בבית ליד האש. אחי עובד בחנות "
           "קטנה ליד התחנה וחוזר הביתה מאוחר בערב. כשהקיץ מגיע אנחנו אוהבים "
           "לנסוע לים ולשחות במים החמים. אנשים אומרים לעתים קרובות שספר טוב "
           "הוא כמו חבר טוב."),
    "hi": ("सुबह वह एक कप चाय पीती है और काम पर जाने से पहले अखबार पढ़ती है। "
           "पिछली सर्दियों में बहुत ठंड थी इसलिए हम आग के पास घर में रहे। "
           "मेरा भाई स्टेशन के पास एक छोटी दुकान में काम करता है और शाम को "
           "देर से घर आता है। जब गर्मी आती है तो हम समुद्र की यात्रा करना और "
           "गर्म पानी में तैरना पसंद करते हैं। लोग अक्सर कहते हैं कि एक "
           "अच्छी किताब एक अच्छे दोस्त की तरह होती है।"),
    "hr": ("ujutro ona pije šalicu kave i čita novine prije nego što ode na "
           "posao. prošle zime bilo je jako hladno pa smo ostali kod kuće "
           "pokraj vatre. moj brat radi u maloj trgovini blizu kolodvora i "
           "vraća se kući kasno navečer. kada dođe ljeto volimo putovati na "
           "more i plivati u toploj vodi. ljudi često kažu da je dobra "
           "knjiga kao dobar prijatelj."),
    "hu": ("reggel megiszik egy csésze kávét és újságot olvas mielőtt "
           "munkába megy. tavaly télen nagyon hideg volt ezért otthon "
           "maradtunk a tűz mellett. a bátyám egy kis boltban dolgozik az "
           "állomás közelében és késő este ér haza. amikor eljön a nyár "
           "szeretünk a tengerhez utazni és úszni a meleg vízben. az emberek "
           "gyakran mondják hogy egy jó könyv olyan mint egy jó barát."),
    "id": ("di pagi hari dia minum secangkir kopi dan membaca koran sebelum "
           "berangkat kerja. musim dingin yang lalu sangat dingin jadi kami "
           "tinggal di rumah dekat api. saudara saya bekerja di sebuah toko "
           "kecil dekat stasiun dan pulang larut malam. ketika musim panas "
           "tiba kami suka bepergian ke laut dan berenang di air yang "
           "hangat. orang orang sering mengatakan bahwa buku yang baik "
           "seperti teman yang baik."),
    "it": ("la mattina lei beve una tazza di caffè e legge il giornale prima "
           "di andare al lavoro. lo scorso inverno faceva molto freddo così "
           "siamo rimasti a casa vicino al fuoco. mio fratello lavora in un "
           "piccolo negozio vicino alla stazione e torna a casa tardi la "
           "sera. quando arriva l'estate ci piace viaggiare al mare e "
           "nuotare nell'acqua calda. la gente dice spesso che un buon libro "
           "è come un buon amico."),
    "ja": ("朝彼女はコーヒーを一杯飲んで仕事に行く前に新聞を読みます。去年の冬はとても寒かったので私たちは火のそばの家にいました。私の兄は駅の近くの小さな店で働いていて夜遅く家に帰ります。夏が来ると私たちは海へ旅行して温かい水で泳ぐのが好きです。良い本は良い友達のようだと人々はよく言います。"),
    "ko": ("아침에 그녀는 커피 한 잔을 마시고 일하러 가기 전에 신문을 읽는다. 지난 겨울은 너무 추워서 우리는 불 옆의 집에 "
           "머물렀다. 내 형은 역 근처의 작은 가게에서 일하고 저녁 늦게 집에 돌아온다. 여름이 오면 우리는 바다로 여행하고 "
           "따뜻한 물에서 수영하는 것을 좋아한다. 사람들은 좋은 책이 좋은 친구와 같다고 자주 말한다."),
    "nl": ("in de ochtend drinkt ze een kop koffie en leest ze de krant "
           "voordat ze naar haar werk gaat. vorige winter was het erg koud "
           "dus bleven we thuis bij het vuur. mijn broer werkt in een kleine "
           "winkel bij het station en komt savonds laat thuis. als de zomer "
           "komt reizen we graag naar zee en zwemmen we in het warme water. "
           "mensen zeggen vaak dat een goed boek als een goede vriend is."),
    "no": ("om morgenen drikker hun en kopp kaffe og leser avisen før hun "
           "går på jobb. i fjor vinter var det veldig kaldt så vi ble hjemme "
           "ved ilden. broren min jobber i en liten butikk nær stasjonen og "
           "kommer sent hjem om kvelden. når sommeren kommer liker vi å "
           "reise til sjøen og svømme i det varme vannet. folk sier ofte at "
           "en god bok er som en god venn."),
    "pl": ("rano ona pije filiżankę kawy i czyta gazetę zanim pójdzie do "
           "pracy. zeszłej zimy było bardzo zimno więc zostaliśmy w domu "
           "przy ogniu. mój brat pracuje w małym sklepie niedaleko dworca i "
           "wraca do domu późno wieczorem. kiedy przychodzi lato lubimy "
           "podróżować nad morze i pływać w ciepłej wodzie. ludzie często "
           "mówią że dobra książka jest jak dobry przyjaciel."),
    "pt": ("de manhã ela bebe uma xícara de café e lê o jornal antes de ir "
           "para o trabalho. no inverno passado fazia muito frio então "
           "ficamos em casa perto do fogo. o meu irmão trabalha numa loja "
           "pequena perto da estação e volta tarde à noite. quando chega o "
           "verão gostamos de viajar para o mar e nadar na água quente. as "
           "pessoas dizem muitas vezes que um bom livro é como um bom amigo."),
    "ro": ("dimineața ea bea o ceașcă de cafea și citește ziarul înainte de "
           "a merge la muncă. iarna trecută a fost foarte frig așa că am "
           "rămas acasă lângă foc. fratele meu lucrează într-un magazin mic "
           "lângă gară și se întoarce acasă târziu seara. când vine vara ne "
           "place să călătorim la mare și să înotăm în apa caldă. oamenii "
           "spun adesea că o carte bună este ca un prieten bun."),
    "ru": ("утром она пьёт чашку кофе и читает газету перед тем как идти на "
           "работу. прошлой зимой было очень холодно поэтому мы остались "
           "дома у огня. мой брат работает в маленьком магазине возле "
           "вокзала и возвращается домой поздно вечером. когда приходит лето "
           "мы любим ездить на море и плавать в тёплой воде. люди часто "
           "говорят что хорошая книга как хороший друг."),
    "sv": ("på morgonen dricker hon en kopp kaffe och läser tidningen innan "
           "hon går till arbetet. förra vintern var det mycket kallt så vi "
           "stannade hemma vid elden. min bror arbetar i en liten affär nära "
           "stationen och kommer hem sent på kvällen. när sommaren kommer "
           "tycker vi om att resa till havet och simma i det varma vattnet. "
           "folk säger ofta att en bra bok är som en god vän."),
    "sw": ("asubuhi yeye hunywa kikombe cha kahawa na kusoma gazeti kabla ya "
           "kwenda kazini. msimu wa baridi uliopita kulikuwa na baridi sana "
           "kwa hiyo tulikaa nyumbani karibu na moto. kaka yangu anafanya "
           "kazi katika duka dogo karibu na stesheni na anarudi nyumbani "
           "usiku. wakati wa joto unapofika tunapenda kusafiri baharini na "
           "kuogelea kwenye maji ya moto. watu husema mara nyingi kwamba "
           "kitabu kizuri ni kama rafiki mzuri."),
    "th": ("ตอนเช้าเธอดื่มกาแฟหนึ่งถ้วยและอ่านหนังสือพิมพ์ก่อนไปทำงาน "
           "ฤดูหนาวที่แล้วอากาศหนาวมากเราจึงอยู่บ้านใกล้กองไฟ "
           "พี่ชายของฉันทำงานในร้านเล็กๆใกล้สถานีและกลับบ้านดึกตอนเย็น "
           "เมื่อฤดูร้อนมาถึงเราชอบเดินทางไปทะเลและว่ายน้ำในน้ำอุ่น "
           "ผู้คนมักพูดว่าหนังสือที่ดีเป็นเหมือนเพื่อนที่ดี"),
    "tr": ("sabahları bir fincan kahve içer ve işe gitmeden önce gazete "
           "okur. geçen kış hava çok soğuktu bu yüzden evde ateşin yanında "
           "kaldık. kardeşim istasyonun yakınındaki küçük bir dükkanda "
           "çalışıyor ve akşamları eve geç geliyor. yaz gelince denize "
           "gitmeyi ve sıcak suda yüzmeyi severiz. insanlar sık sık iyi bir "
           "kitabın iyi bir arkadaş gibi olduğunu söylerler."),
    "uk": ("вранці вона п'є чашку кави і читає газету перед тим як іти на "
           "роботу. минулої зими було дуже холодно тому ми залишилися вдома "
           "біля вогню. мій брат працює в маленькій крамниці біля вокзалу і "
           "повертається додому пізно ввечері. коли приходить літо ми любимо "
           "їздити на море і плавати в теплій воді. люди часто кажуть що "
           "хороша книга як хороший друг."),
    "vi": ("buổi sáng cô ấy uống một tách cà phê và đọc báo trước khi đi "
           "làm. mùa đông năm ngoái trời rất lạnh nên chúng tôi ở nhà gần "
           "bếp lửa. anh trai tôi làm việc trong một cửa hàng nhỏ gần nhà ga "
           "và về nhà muộn vào buổi tối. khi mùa hè đến chúng tôi thích đi "
           "du lịch ra biển và bơi trong nước ấm. người ta thường nói rằng "
           "một cuốn sách hay giống như một người bạn tốt."),
    "zh": ("早上她喝一杯咖啡在去上班之前读报纸。去年冬天非常冷所以我们待在家里的火炉旁边。我的哥哥在车站附近的一家小商店工作晚上很晚回家。夏天来的时候我们喜欢去海边旅行在温暖的水里游泳。人们常说一本好书就像一个好朋友。"),
}

_TRAIN: dict[str, str] = {
    lang: _TRAIN_BASE[lang] + " " + _TRAIN_EXTRA[lang]
    for lang in _TRAIN_BASE
}

_NGRAM_NS = (1, 2, 3)


def _char_ngrams(text: str) -> list[str]:
    """Python twin of the engine-side extraction: lowercase input assumed;
    non-letter runs -> space; each word padded with one space each side;
    1..3-grams per padded word. MUST stay in lockstep with doc_ngrams() and
    the SQL in lang_id_sql()."""
    import unicodedata

    norm = "".join(
        c if unicodedata.category(c)[0] in ("L", "M") else " " for c in text)
    words = [w for w in norm.split() if w]
    grams: list[str] = []
    for w in words:
        p = f" {w} "
        for n in _NGRAM_NS:
            grams.extend(p[i:i + n] for i in range(len(p) - n + 1))
    return grams


def _build_profiles() -> list[tuple[str, str, int]]:
    """(lang, gram, rank) literal rows, rank 1-based by (count desc, gram
    asc), top PROFILE_TOP per language — computed once at import."""
    rows: list[tuple[str, str, int]] = []
    for lang in sorted(_TRAIN):
        counts: dict[str, int] = {}
        for g in _char_ngrams(_TRAIN[lang]):
            counts[g] = counts.get(g, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rows.extend((lang, g, r + 1) for r, (g, _) in enumerate(ranked[:PROFILE_TOP]))
    return rows


PROFILES: list[tuple[str, str, int]] = _build_profiles()
LANGUAGES: list[str] = sorted(_TRAIN)


def doc_ngrams(text_col: Column) -> Column:
    """Column of all 1..3 char-grams of the padded words of `text_col` —
    the Catalyst twin of _char_ngrams. NOT on the production path since
    the r10 pure-map rewrite (classify_udf extracts in Python); kept as
    the executable cross-check that _char_ngrams' unicodedata-category
    word model agrees with the \\p{L}\\p{M} regex model the SQL twin
    uses (test_python_and_spark_ngrams_agree pins the two on mixed-script
    inputs). Pure Column expressions (flatten / transform / substr)."""
    # \p{L}\p{M} keeps letters plus combining marks (Devanagari/Thai vowel
    # signs etc.); everything else becomes a word break
    norm = F.regexp_replace(F.lower(text_col), r"[^\p{L}\p{M}]+", " ")
    words = F.filter(F.split(norm, " "), lambda w: w != F.lit(""))
    padded = F.transform(words, lambda w: F.concat(F.lit(" "), w, F.lit(" ")))

    def grams_of(w: Column) -> Column:
        # factory, not a default-arg lambda: `lambda i, n=n` would make
        # F.transform pass the element INDEX as the second argument
        def per_n(n: int) -> Column:
            return F.transform(
                F.sequence(F.lit(1), F.length(w) - F.lit(n - 1)),
                lambda i: w.substr(i, F.lit(n)),
            )

        return F.flatten(F.array(*[per_n(n) for n in _NGRAM_NS]))

    return F.flatten(F.transform(padded, grams_of))


# --- vectorized gram extraction (r14, VERDICT ask #5) -------------------------
#
# The reference's per-char unicodedata.category + per-gram slicing is
# ~3.1 core-s over sf0.1 (the row's measured wall). The vectorized path
# packs each 1..3-gram into ONE int64 key — code points are < 2^21, so
# big-endian packing (c0<<42 | c1<<21 | c2, zero-padded) is collision-free
# AND key order == code-point string order (shorter prefixes pack smaller:
# the pad 0 is below any code point) — so np.unique + np.lexsort reproduce
# the exact (count desc, gram asc) ranking, and the scoring loop walks the
# same integers. ~4x less Python per doc; parity pinned by
# test_classify_vectorized_equals_reference.

_SP = 0x20
_PACK_SHIFT = 21  # max code point 0x10FFFF < 2^21


def _pack_gram(g: str) -> int:
    k = 0
    shift = 2 * _PACK_SHIFT
    for ch in g:
        k |= ord(ch) << shift
        shift -= _PACK_SHIFT
    return k


# code point -> is-letter-or-mark, memoized per process (bounded by the
# alphabet actually seen; the category test is the ref implementation's)
class _LetterTable(dict):
    def __missing__(self, cp: int) -> bool:
        import unicodedata

        v = unicodedata.category(chr(cp))[0] in ("L", "M")
        self[cp] = v
        return v


_IS_LETTER = _LetterTable()

_PROFILE_INDEX_PACKED: dict[int, list[tuple[str, int]]] | None = None


def _profile_index_packed() -> dict[int, list[tuple[str, int]]]:
    global _PROFILE_INDEX_PACKED
    if _PROFILE_INDEX_PACKED is None:
        idx: dict[int, list[tuple[str, int]]] = {}
        for lang, gram, lrank in PROFILES:
            idx.setdefault(_pack_gram(gram), []).append((lang, lrank))
        _PROFILE_INDEX_PACKED = idx
    return _PROFILE_INDEX_PACKED


# flat numpy scoring table built once per process from the packed index:
# (sorted profile keys, entry offsets, flat lrank, flat lang index) — the
# per-doc scoring then has NO python loop (see classify_text)
_SCORE_TABLE = None


def _score_table():
    global _SCORE_TABLE
    if _SCORE_TABLE is None:
        import numpy as np

        idx = _profile_index_packed()
        lang_pos = {lang: i for i, lang in enumerate(LANGUAGES)}
        pkeys = np.array(sorted(idx), dtype=np.int64)
        counts = np.array([len(idx[int(k)]) for k in pkeys.tolist()],
                          dtype=np.int64)
        off = np.concatenate(([0], np.cumsum(counts)))
        lrank = np.empty(int(off[-1]), dtype=np.int64)
        langidx = np.empty(int(off[-1]), dtype=np.int64)
        p = 0
        for k in pkeys.tolist():
            for lang, r in idx[k]:
                lrank[p] = r
                langidx[p] = lang_pos[lang]
                p += 1
        _SCORE_TABLE = (pkeys, off, lrank, langidx, len(LANGUAGES))
    return _SCORE_TABLE


def _ranked_packed_grams(t: str):
    """(keys, counts) of the doc's grams ranked (count desc, gram asc),
    truncated to DOC_TOP — the vectorized twin of
    sorted(Counter(_char_ngrams(t)).items(), ...)[:DOC_TOP]. Lone
    surrogates pass through as their code points (category Cs: a word
    break, as in the reference)."""
    import numpy as np

    cps = np.frombuffer(t.encode("utf-32-le", "surrogatepass"), dtype=np.uint32)
    if not len(cps):
        return None
    uniq_cp = np.unique(cps)
    is_letter = np.array([_IS_LETTER[int(c)] for c in uniq_cp.tolist()],
                         dtype=bool)
    mask = is_letter[np.searchsorted(uniq_cp, cps)]
    n_letters = int(mask.sum())
    if n_letters == 0:
        return None
    # scatter the letters into the ' w1  w2 ... ' double-space-joined
    # layout: per-word ' w ' padding == all windows of this array that
    # contain no two consecutive spaces (the join spaces serve as each
    # neighbor's pad exactly once)
    first = mask & ~np.concatenate(([False], mask[:-1]))
    widx = np.cumsum(first)[mask] - 1
    n_words = int(widx[-1]) + 1
    letters = cps[mask].astype(np.int64)
    out_idx = np.arange(n_letters, dtype=np.int64) + 2 * widx + 1
    padded = np.full(n_letters + 2 * n_words, _SP, dtype=np.int64)
    padded[out_idx] = letters
    sp = padded == _SP
    dbl = sp[:-1] & sp[1:]  # consecutive-space pairs (join seams)
    k1 = padded << (2 * _PACK_SHIFT)
    k2 = (k1[:-1] | (padded[1:] << _PACK_SHIFT))[~dbl]
    m3 = ~(dbl[:-1] | dbl[1:])
    k3 = (k1[:-2] | (padded[1:-1] << _PACK_SHIFT) | padded[2:])[m3]
    keys, counts = np.unique(np.concatenate((k1, k2, k3)),
                             return_counts=True)
    order = np.lexsort((keys, -counts))[:DOC_TOP]
    return keys[order], len(order)


def _lower_simple(t: str) -> str:
    """Unicode SIMPLE per-codepoint lowercase — the exact twin of DuckDB's
    lower() (measured: lower('İ') = 'i', lower('ΟΔΥΣΣΕΥΣ') ends in 'σ').
    Python str.lower applies the FULL mappings instead: İ -> 'i' + U+0307
    (two code points) and the Final_Sigma context rule (Σ -> 'ς'
    word-finally). Those two code points are the ONLY divergence between
    full and simple lowercase mappings, so everything else fast-paths
    through str.lower; with Σ present, per-CHARACTER lower strips the
    context rule (single-char lower has no word-final context)."""
    if "İ" in t:  # İ: full maps to 2 code points, simple to 'i'
        t = t.replace("İ", "i")
    if "Σ" in t:  # Σ: full maps word-final occurrences to 'ς'
        return "".join(c.lower() for c in t)
    return t.lower()


def classify_text(t: str | None) -> tuple[str, int]:
    """Cavnar-Trenkle (lang, distance) for one document through the
    packed-gram vectorized extraction
    and a fully-vectorized scoring pass: identical (lang, distance)
    integers — the packed-key order equals gram string order (ranking,
    penalties and tie-breaks unchanged; LANGUAGES is sorted, so the
    first-minimum index IS the lexicographically-smallest tied code) —
    at ~6x less Python per document than the reference loop (the UDF's
    measured wall: 3.1 -> ~0.5 core-s at sf0.1). All arithmetic is
    integer-exact (penalty sums < 2^53, so the bincount weights are
    exact in float64)."""
    import numpy as np

    if t is None:
        return ("und", -1)
    rp = _ranked_packed_grams(_lower_simple(t))
    if rp is None:
        return ("und", -1)
    ranked, dn = rp
    pkeys, off, lrank, langidx, n_langs = _score_table()
    loc = np.searchsorted(pkeys, ranked)
    loc[loc >= len(pkeys)] = 0
    hit = pkeys[loc] == ranked
    if not hit.any():
        return ("und", -1)
    dr = np.flatnonzero(hit) + 1  # doc ranks of matched grams (1-based)
    starts = off[loc[hit]]
    counts = off[loc[hit] + 1] - starts
    total = int(counts.sum())
    ends = np.cumsum(counts)
    j = np.repeat(starts, counts) \
        + (np.arange(total) - np.repeat(ends - counts, counts))
    pen = np.abs(np.repeat(dr, counts) - lrank[j])
    np.minimum(pen, MAX_PENALTY, out=pen)
    contrib = np.bincount(langidx[j], weights=(MAX_PENALTY - pen),
                          minlength=n_langs)
    nm = np.bincount(langidx[j], minlength=n_langs)
    scores = dn * MAX_PENALTY - contrib
    scores[nm == 0] = np.inf
    best = int(np.argmin(scores))  # first min == smallest lang code
    return (LANGUAGES[best], int(scores[best]))


def classify_udf():
    """Arrow-vectorized pandas_udf: text -> struct<lang,distance> — the
    whole classification as a PURE MAP over documents.

    Why a UDF (the measured exception to the built-ins-first rule): the
    per-doc top-gram ranking has no efficient JVM expression, and every
    JVM shape measured at sf0.1 loses. The r9 plan exploded the raw gram
    stream into a global (id, gram) aggregation + per-id window —
    codegen-fast (5.4 s) but a shuffle proportional to ~3x corpus
    characters, the wrong shape at scale. A pure-Catalyst row-local
    rewrite (array_sort + run-length via higher-order functions) had the
    right shape but runs INTERPRETED: 12.5 s. A hybrid (UDF top-grams ->
    broadcast profile join -> two keyed aggs) still paid four keyed
    exchanges: 8-12 s. This form needs NO exchange at all — the profile
    table rides into each Python worker as module data (built once per
    process by _profile_index), and one Arrow batch per input split
    produces the final answer. Single-core Python for all of sf0.1 is
    ~2 s; it parallelizes embarrassingly and shuffles nothing at any
    scale."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lang:string,distance:bigint>")
    def _classify(texts: pd.Series) -> pd.DataFrame:
        out = [classify_text(t) for t in texts]
        return pd.DataFrame(out, columns=["lang", "distance"])

    return _classify


def lang_id(df: DataFrame, id_col: str = "id",
            text_col: str = "text") -> DataFrame:
    """(id, lang, distance): Cavnar–Trenkle classification of every row.
    `distance` is the winning integer out-of-place distance (-1 for "und",
    which has no competitor).

    Scale shape: a pure map — one Arrow-batched UDF per input split
    (classify_udf), ZERO shuffle at any scale; the raw gram stream never
    leaves its document row and the profile table is process-local data,
    not even a broadcast.

    Unique-id contract (matches the SQL twin's DISTINCT): `id_col` must
    identify rows uniquely. The SQL twin merges duplicate ids' gram
    streams before ranking; the row-local plan classifies each row
    separately, so duplicate ids are outside the parity contract — every
    caller (queries, pipeline example, tests) passes row keys."""
    from flouds_vectordb_spark.sources.tables import spread_small_input

    # classification is CPU-heavy per row — spread single-split fixture
    # inputs first (no-op at scale: see spread_small_input). Capped at 8
    # (r14): the vectorized classify is ~0.8 core-s at the gate scale,
    # so wider fan-out pays more task overhead than it parallelizes
    # (guide §2.6; the scrub_pii precedent).
    return (
        spread_small_input(df, target=8)
        .select(F.col(id_col).alias("id"),
                classify_udf()(F.col(text_col)).alias("_r"))
        .select("id", F.col("_r.lang").alias("lang"),
                F.col("_r.distance").alias("distance"))
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def profiles_values_sql() -> str:
    """The profile table as a DuckDB VALUES literal (lang, gram, lrank)."""
    vals = ", ".join(
        f"({_sql_quote(l)}, {_sql_quote(g)}, {r})" for l, g, r in PROFILES)
    return f"(SELECT * FROM (VALUES {vals}) AS _p(lang, gram, lrank))"


def lang_id_sql(table_sql: str, id_expr: str = "id",
                text_expr: str = "text") -> str:
    """DuckDB oracle twin of lang_id — same extraction, same integer
    distance, same tie-breaks."""
    grams_per_n = ", ".join(
        f"list_transform(range(1, length(_w) - {n - 2}), i -> _w[i:i+{n - 1}])"
        for n in _NGRAM_NS)
    return f"""
WITH _base AS (
  SELECT {id_expr} AS id,
         list_filter(string_split_regex(
             regexp_replace(lower({text_expr}), '[^\\p{{L}}\\p{{M}}]+', ' ', 'g'),
             ' '), x -> x <> '') AS _ws
  FROM {table_sql}
),
_padded AS (
  SELECT id, unnest(list_transform(_ws, w -> ' ' || w || ' ')) AS _w FROM _base
),
_grams AS (
  SELECT id, unnest(flatten([{grams_per_n}])) AS gram FROM _padded
),
_cnt AS (SELECT id, gram, count(*) AS _c FROM _grams GROUP BY id, gram),
_top AS (
  SELECT id, gram, _dr FROM (
    SELECT id, gram, row_number() OVER (
        PARTITION BY id ORDER BY _c DESC, gram ASC) AS _dr
    FROM _cnt
  ) WHERE _dr <= {DOC_TOP}
),
_doc_n AS (SELECT id, count(*) AS _dn FROM _top GROUP BY id),
_prof AS (SELECT * FROM {profiles_values_sql()}),
_match AS (
  SELECT t.id, p.lang,
         least(abs(t._dr - p.lrank), {MAX_PENALTY}) AS _pen
  FROM _top t JOIN _prof p USING (gram)
),
_per_lang AS (
  SELECT id, lang, sum(_pen) AS _sp, count(*) AS _nm
  FROM _match GROUP BY id, lang
),
_scored AS (
  SELECT l.id, l.lang, (l._sp + (d._dn - l._nm) * {MAX_PENALTY}) AS _dist
  FROM _per_lang l JOIN _doc_n d USING (id)
),
_best AS (
  SELECT id, lang, _dist FROM (
    SELECT id, lang, _dist, row_number() OVER (
        PARTITION BY id ORDER BY _dist ASC, lang ASC) AS _rn
    FROM _scored
  ) WHERE _rn = 1
)
SELECT b.id, coalesce(s.lang, 'und') AS lang,
       coalesce(s._dist, -1)::BIGINT AS distance
FROM (SELECT DISTINCT id FROM _base) b LEFT JOIN _best s USING (id)
"""
