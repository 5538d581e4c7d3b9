package graft.goldens

/** Reference golden vectors as data, shared by the golden-vector driver
  * queries and their DuckDB oracles, which [[graft.driver.GoldenQueries]]
  * defines side by side.
  *
  * Every list is ported verbatim from the reference's unit-test fixtures
  * (themselves the Apache commons-codec 1.15 vector suites) — each val
  * cites its `/root/reference` source. The driver queries encode these
  * literal inputs with our Catalyst expressions; the oracles are
  * `VALUES`-literal tables of the reference-expected codes, so a hash match
  * proves bit-exactness against the reference *through the driver*, per
  * operator.
  */
object Goldens {

  // ---------------------------------------------------------------- Soundex
  /** ref: /root/reference/src/soundex.rs:279-517 */
  val soundex: Seq[(String, String)] = (Seq(
    "BARHAM", "BARONE", "BARRON", "BERNA", "BIRNEY", "BIRNIE", "BOOROM",
    "BOREN", "BORN", "BOURN", "BOURNE", "BOWRON", "BRAIN", "BRAME", "BRANN",
    "BRAUN", "BREEN", "BRIEN", "BRIM", "BRIMM", "BRINN", "BRION", "BROOM",
    "BROOME", "BROWN", "BROWNE", "BRUEN", "BRUHN", "BRUIN", "BRUMM", "BRUN",
    "BRUNO", "BRYAN", "BURIAN", "BURN", "BURNEY", "BYRAM", "BYRNE", "BYRON",
    "BYRUM").map(_ -> "B650") ++
    Seq("HOL>MES" -> "H452") ++
    Seq("testing" -> "T235", "The" -> "T000", "quick" -> "Q200",
      "brown" -> "B650", "fox" -> "F200", "jumped" -> "J513",
      "over" -> "O160", "lazy" -> "L200", "dogs" -> "D200") ++
    Seq("Allricht" -> "A462", "Eberhard" -> "E166",
      "Engebrethson" -> "E521", "Heimbach" -> "H512",
      "Hanselmann" -> "H524", "Hildebrand" -> "H431", "Kavanagh" -> "K152",
      "Lind" -> "L530", "Lukaschowsky" -> "L222", "McDonnell" -> "M235",
      "McGee" -> "M200", "Opnian" -> "O155", "Oppenheimer" -> "O155",
      "Riedemanas" -> "R355", "Zita" -> "Z300", "Zitzmeinn" -> "Z325") ++
    Seq("Washington" -> "W252", "Lee" -> "L000", "Gutierrez" -> "G362",
      "Pfister" -> "P236", "Jackson" -> "J250", "Tymczak" -> "T522",
      "VanDeusen" -> "V532", "HOLMES" -> "H452", "ADOMOMI" -> "A355",
      "VONDERLEHR" -> "V536", "BALL" -> "B400", "SHAW" -> "S000",
      "SCANLON" -> "S545", "SAINTJOHN" -> "S532") ++
    Seq("OBrien", "'OBrien", "O'Brien", "OB'rien", "OBr'ien", "OBri'en",
      "OBrie'n", "OBrien'").map(_ -> "O165") ++
    Seq("KINGSMITH", "-KINGSMITH", "K-INGSMITH", "KI-NGSMITH", "KIN-GSMITH",
      "KING-SMITH", "KINGS-MITH", "KINGSM-ITH", "KINGSMI-TH", "KINGSMIT-H",
      "KINGSMITH-").map(_ -> "K525") ++
    Seq(" \t\n\r Washington \t\n\r " -> "W252") ++
    Seq("Ashcraft" -> "A261", "Ashcroft" -> "A261", "yehudit" -> "Y330",
      "yhwdyt" -> "Y330", "BOOTHDAVIS" -> "B312", "BOOTH-DAVIS" -> "B312",
      "Sgler" -> "S460", "Swhgler" -> "S460") ++
    Seq("SAILOR", "SALYER", "SAYLOR", "SCHALLER", "SCHELLER", "SCHILLER",
      "SCHOOLER", "SCHULER", "SCHUYLER", "SEILER", "SEYLER", "SHOLAR",
      "SHULER", "SILAR", "SILER", "SILLER").map(_ -> "S460") ++
    Seq("Smith" -> "S530", "Smythe" -> "S530") ++
    Seq("Erickson", "Erikson", "Ericson", "Ericksen", "Ericsen")
      .map(_ -> "E625") ++
    Seq("Ann" -> "A500", "Andrew" -> "A536", "Janet" -> "J530",
      "Margaret" -> "M626", "Steven" -> "S315", "Michael" -> "M240",
      "Robert" -> "R163", "Laura" -> "L600", "Anne" -> "A500") ++
    Seq("Rupert" -> "R163") ++
    Seq("" -> "", "   " -> "", "1234" -> "")).distinct

  /** Genealogy / simplified / custom 26-char mappings as (variant, token,
    * code); ref: soundex.rs:493-517 (genealogy), :472-491 (simplified),
    * :117-125 + :158-162 (custom mapping from-chars).
    */
  val soundexVariants: Seq[(String, String, String)] =
    Seq("Heggenburger" -> "H251", "Blackman" -> "B425", "Schmidt" -> "S530",
      "Lippmann" -> "L150", "Dodds" -> "D200", "Dhdds" -> "D200",
      "Dwdds" -> "D200").map { case (t, c) => ("genealogy", t, c) } ++
      Seq("WILLIAMS" -> "W452", "BARAGWANATH" -> "B625", "DONNELL" -> "D540",
        "LLOYD" -> "L300", "WOOLCOCK" -> "W422", "Dodds" -> "D320",
        "Dhdds" -> "D320", "Dwdds" -> "D320")
        .map { case (t, c) => ("simplified", t, c) } ++
      Seq(("custom", "jumped", "J816"))

  /** The mapping string for the "custom" variant above (Refined Soundex
    * mapping fed to plain Soundex; ref: soundex.rs:158-162).
    */
  val soundexCustomMapping: String = "01360240043788015936020505"

  /** ref: /root/reference/src/soundex.rs (difference tests, MS SQL Server
    * examples) via src/lib.rs:294-310.
    */
  val soundexDifference: Seq[(String, String, Int)] = Seq(
    (" ", " ", 0), ("Smith", "Smythe", 4), ("Ann", "Andrew", 2),
    ("Margaret", "Andrew", 1), ("Janet", "Margaret", 0),
    ("Green", "Greene", 4), ("Blotchet-Halls", "Greene", 0),
    ("Smithers", "Smythers", 4), ("Anothers", "Brothers", 2))

  // ------------------------------------------------------- Refined Soundex
  /** ref: /root/reference/src/refined_soundex.rs:211-226 */
  val refinedSoundex: Seq[(String, String)] = Seq(
    "testing" -> "T6036084", "TESTING" -> "T6036084", "The" -> "T60",
    "quick" -> "Q503", "brown" -> "B1908", "fox" -> "F205",
    "jumped" -> "J408106", "over" -> "O0209", "the" -> "T60",
    "lazy" -> "L7050", "dogs" -> "D6043")

  /** ref: /root/reference/src/refined_soundex.rs:195-209 */
  val refinedSoundexDifference: Seq[(String, String, Int)] = Seq(
    ("", "", 0), (" ", " ", 0), ("Smith", "Smythe", 6), ("Ann", "Andrew", 3),
    ("Margaret", "Andrew", 1), ("Janet", "Margaret", 1),
    ("Green", "Greene", 5), ("Blotchet-Halls", "Greene", 1),
    ("Smithers", "Smythers", 8), ("Anothers", "Brothers", 5))

  // ---------------------------------------------------------------- Cologne
  /** ref: /root/reference/src/cologne.rs:135-314 */
  val cologne: Seq[(String, String)] = (Seq(
    "Aabjoe" -> "01", "Aaclan" -> "0856", "Aychlmajr" -> "04567",
    "a" -> "0", "e" -> "0", "i" -> "0", "o" -> "0", "u" -> "0",
    "ä" -> "0", "ö" -> "0", "ü" -> "0", "ß" -> "8",
    "aa" -> "0", "ha" -> "0", "h" -> "", "aha" -> "0", "b" -> "1",
    "p" -> "1", "ph" -> "3", "f" -> "3", "v" -> "3", "w" -> "3", "g" -> "4",
    "k" -> "4", "q" -> "4", "x" -> "48", "ax" -> "048", "cx" -> "48",
    "l" -> "5", "cl" -> "45", "acl" -> "085", "mn" -> "6", "{mn}" -> "6",
    "r" -> "7",
    "mÜller" -> "657", "müller" -> "657", "schmidt" -> "862",
    "schneider" -> "8627", "fischer" -> "387", "weber" -> "317",
    "wagner" -> "3467", "becker" -> "147", "hoffmann" -> "0366",
    "schÄfer" -> "837", "schäfer" -> "837",
    "Breschnew" -> "17863", "Wikipedia" -> "3412", "peter" -> "127",
    "pharma" -> "376", "mönchengladbach" -> "664645214",
    "deutsch" -> "28", "deutz" -> "28", "hamburg" -> "06174",
    "hannover" -> "0637", "christstollen" -> "478256",
    "Xanthippe" -> "48621", "Zacharias" -> "8478", "Holzbau" -> "0581",
    "matsch" -> "68", "matz" -> "68", "Arbeitsamt" -> "071862",
    "Eberhard" -> "01772", "Eberhardt" -> "01772", "Celsius" -> "8588",
    "Ace" -> "08", "shch" -> "84", "xch" -> "484", "heithabu" -> "021",
    "bergisch-gladbach" -> "174845214",
    "Müller-Lüdenscheidt" -> "65752682") ++
    Seq("mella", "milah", "moulla", "mellah", "muehle", "mule")
      .map(_ -> "65") ++
    Seq("Meier", "Maier", "Mair", "Meyer", "Meyr", "Mejer", "Major")
      .map(_ -> "67") ++
    Seq("Test test", "Testtest", "Test-test", "TesT#Test", "TesT?test")
      .map(_ -> "28282")).distinct

  // ------------------------------------------------------------ Caverphone
  /** ref: /root/reference/src/caverphone.rs:277-363 (v1) */
  val caverphone1: Seq[(String, String)] = (Seq(
    "add", "aid", "at", "art", "eat", "earth", "head", "hit", "hot",
    "hold", "hard", "heart", "it", "out", "old").map(_ -> "AT1111") ++
    Seq("mb" -> "M11111", "mbmb" -> "MPM111", "David" -> "TFT111",
      "Whittle" -> "WTL111", "Lee" -> "L11111", "Thompson" -> "TMPSN1",
      "" -> "111111")).distinct

  /** ref: /root/reference/src/caverphone.rs:365-481 (v2) */
  val caverphone2: Seq[(String, String)] = (Seq(
    "add", "aid", "at", "art", "eat", "earth", "head", "hit", "hot",
    "hold", "hard", "heart", "it", "out", "old").map(_ -> "AT11111111") ++
    Seq("Cailean", "Calan", "Calen", "Callahan", "Callan", "Callean",
      "Carleen", "Carlen", "Carlene", "Carlin", "Carline", "Carlyn",
      "Carlynn", "Carlynne", "Charlean", "Charleen", "Charlene", "Charline",
      "Cherlyn", "Chirlin", "Clein", "Cleon", "Cline", "Cohleen", "Colan",
      "Coleen", "Colene", "Colin", "Colleen", "Collen", "Collin", "Colline",
      "Colon", "Cullan", "Cullen", "Cullin", "Gaelan", "Galan", "Galen",
      "Garlan", "Garlen", "Gaulin", "Gayleen", "Gaylene", "Giliane",
      "Gillan", "Gillian", "Glen", "Glenn", "Glyn", "Glynn", "Gollin",
      "Gorlin", "Kalin", "Karlan", "Karleen", "Karlen", "Karlene", "Karlin",
      "Karlyn", "Kaylyn", "Keelin", "Kellen", "Kellene", "Kellyann",
      "Kellyn", "Khalin", "Kilan", "Kilian", "Killen", "Killian", "Killion",
      "Klein", "Kleon", "Kline", "Koerlin", "Kylen", "Kylynn", "Quillan",
      "Quillon", "Qulllon", "Xylon").map(_ -> "KLN1111111") ++
    Seq("Dan", "Dane", "Dann", "Darn", "Daune", "Dawn", "Ddene", "Dean",
      "Deane", "Deanne", "DeeAnn", "Deeann", "Deeanne", "Deeyn", "Den",
      "Dene", "Denn", "Deonne", "Diahann", "Dian", "Diane", "Diann",
      "Dianne", "Diannne", "Dine", "Dion", "Dione", "Dionne", "Doane",
      "Doehne", "Don", "Donn", "Doone", "Dorn", "Down", "Downe", "Duane",
      "Dun", "Dunn", "Duyne", "Dyan", "Dyane", "Dyann", "Dyanne", "Dyun",
      "Tan", "Tann", "Teahan", "Ten", "Tenn", "Terhune", "Thain", "Thaine",
      "Thane", "Thanh", "Thayne", "Theone", "Thin", "Thorn", "Thorne",
      "Thun", "Thynne", "Tien", "Tine", "Tjon", "Town", "Towne", "Turne",
      "Tyne").map(_ -> "TN11111111") ++
    Seq("Darda", "Datha", "Dedie", "Deedee", "Deerdre", "Deidre", "Deirdre",
      "Detta", "Didi", "Didier", "Dido", "Dierdre", "Dieter", "Dita",
      "Ditter", "Dodi", "Dodie", "Dody", "Doherty", "Dorthea", "Dorthy",
      "Doti", "Dotti", "Dottie", "Dotty", "Doty", "Doughty", "Douty",
      "Dowdell", "Duthie", "Tada", "Taddeo", "Tadeo", "Tadio", "Tati",
      "Teador", "Tedda", "Tedder", "Teddi", "Teddie", "Teddy", "Tedi",
      "Tedie", "Teeter", "Teodoor", "Teodor", "Terti", "Theda", "Theodor",
      "Theodore", "Theta", "Thilda", "Thordia", "Tilda", "Tildi", "Tildie",
      "Tildy", "Tita", "Tito", "Tjader", "Toddie", "Toddy", "Torto",
      "Tuddor", "Tudor", "Turtle", "Tuttle", "Tutto").map(_ -> "TTA1111111") ++
    Seq("Stevenson" -> "STFNSN1111", "Peter" -> "PTA1111111",
      "rather" -> "RTA1111111", "ready" -> "RTA1111111",
      "writer" -> "RTA1111111", "social" -> "SSA1111111",
      "able" -> "APA1111111", "appear" -> "APA1111111",
      "mb" -> "M111111111", "mbmb" -> "MPM1111111",
      "" -> "1111111111")).distinct

  // -------------------------------------------------------------- Metaphone
  /** (variant, token, code); variant in (len4, len6, unbounded);
    * ref: /root/reference/src/metaphone.rs:562-692.
    */
  val metaphone: Seq[(String, String, String)] =
    (Seq("howl" -> "HL", "testing" -> "TSTN", "The" -> "0", "quick" -> "KK",
      "brown" -> "BRN", "fox" -> "FKS", "jumped" -> "JMPT", "over" -> "OFR",
      "the" -> "0", "lazy" -> "LS", "dogs" -> "TKS",
      "COMB" -> "KM", "TOMB" -> "TM", "WOMB" -> "WM", "SCIENCE" -> "SNS",
      "SCENE" -> "SN", "SCY" -> "S", "WHY" -> "", "CIAPO" -> "XP",
      "SCHEDULE" -> "SKTL", "SCHEMATIC" -> "SKMT", "CHARACTER" -> "KRKT",
      "TEACH" -> "TX", "DODGY" -> "TJ", "DODGE" -> "TJ",
      "ADGIEMTI" -> "AJMT", "GHENT" -> "KNT", "BAUGH" -> "B", "GNU" -> "N",
      "SIGNED" -> "SNT", "PHISH" -> "FX", "SHOT" -> "XT",
      "ODSIAN" -> "OTXN", "PULSION" -> "PLXN", "OTIA" -> "OX",
      "PORTION" -> "PRXN", "RETCH" -> "RX", "WATCH" -> "WX",
      "AXEAXE" -> "AKSK").map { case (t, c) => ("len4", t, c) } ++
      Seq(("len6", "AXEAXEAXE", "AKSKSK"),
        ("unbounded", "ALLERTON", "ALRTN"),
        ("unbounded", "synchronization", "SNXRNSXN"))).distinct

  // ----------------------------------------------------------------- NYSIIS
  /** (variant, token, code); variant in (strict, lax);
    * ref: /root/reference/src/nysiis.rs:245-423.
    */
  val nysiis: Seq[(String, String, String)] =
    (Seq("Brian" -> "BRAN", "Brown" -> "BRAN", "Brun" -> "BRAN",
      "Capp" -> "CAP", "Cope" -> "CAP", "Copp" -> "CAP", "Kipp" -> "CAP",
      "Dent" -> "DAD", "Dane" -> "DAN", "Dean" -> "DAN", "Dionne" -> "DAN",
      "Phil" -> "FAL", "Schmidt" -> "SNAD", "Smith" -> "SNAT",
      "Schmit" -> "SNAT", "Trueman" -> "TRANAN", "Truman" -> "TRANAN",
      "Kobwick" -> "CABWAC", "Kocher" -> "CACAR", "Fesca" -> "FASC",
      "Shom" -> "SAN", "Ohlo" -> "OL", "Uhu" -> "UH", "Um" -> "UN",
      "WESTERLUND" -> "WASTAR").map { case (t, c) => ("strict", t, c) } ++
      Seq("MACINTOSH" -> "MCANT", "KNUTH" -> "NAT", "KOEHN" -> "CAN",
        "PHILLIPSON" -> "FALAPSAN", "PFEISTER" -> "FASTAR",
        "SCHOENHOEFT" -> "SANAFT", "MCKEE" -> "MCY", "MACKIE" -> "MCY",
        "HEITSCHMIDT" -> "HATSNAD", "BART" -> "BAD", "HURD" -> "HAD",
        "HUNT" -> "HAD", "WESTERLUND" -> "WASTARLAD",
        "CASSTEVENS" -> "CASTAFAN", "VASQUEZ" -> "VASG",
        "FRAZIER" -> "FRASAR", "BOWMAN" -> "BANAN", "MCKNIGHT" -> "MCNAGT",
        "RICKERT" -> "RACAD", "DEUTSCH" -> "DAT", "WESTPHAL" -> "WASTFAL",
        "SHRIVER" -> "SRAVAR", "KUHL" -> "CAL", "RAWSON" -> "RASAN",
        "JILES" -> "JAL", "CARRAWAY" -> "CARY", "YAMADA" -> "YANAD",
        "O'Daniel" -> "ODANAL", "O'Donnel" -> "ODANAL", "Cory" -> "CARY",
        "Corey" -> "CARY", "Kory" -> "CARY", "FUZZY" -> "FASY",
        "MACX" -> "MCX", "KNX" -> "NX", "KX" -> "CX", "PHX" -> "FX",
        "PFX" -> "FX", "SCHX" -> "SX", "XEE" -> "XY", "XIE" -> "XY",
        "XDT" -> "XD", "XRT" -> "XD", "XRD" -> "XD", "XNT" -> "XD",
        "XND" -> "XD", "XEV" -> "XAF", "XAX" -> "XAX", "XEX" -> "XAX",
        "XIX" -> "XAX", "XOX" -> "XAX", "XUX" -> "XAX", "XQ" -> "XG",
        "XZ" -> "X", "XM" -> "XN", "XS" -> "X", "XSS" -> "X", "XAY" -> "XY",
        "XAYS" -> "XY", "XA" -> "X", "XAS" -> "X")
        .map { case (t, c) => ("lax", t, c) }).distinct

  // ----------------------------------------------------------------- Phonex
  /** ref: /root/reference/src/phonex.rs:325-396 */
  val phonex: Seq[(String, String)] = Seq(
    "123 testsss" -> "T230", "24/7 test" -> "T230", "A" -> "A000",
    "Ashcraft" -> "A261", "Lee" -> "L000", "Kuhne" -> "C500",
    "Meyer-Lansky" -> "M452", "Oepping" -> "A150", "Daley" -> "D400",
    "Dalitz" -> "D432", "Duhlitz" -> "D432", "Dull" -> "D400",
    "De Ledes" -> "D430", "Sandemann" -> "S500", "Schmidt" -> "S530",
    "Sinatra" -> "S536", "Heinrich" -> "A562", "Hammerschlag" -> "A524",
    "Williams" -> "W450", "Wilms" -> "W500", "Wilson" -> "W250",
    "Worms" -> "W500", "Zedlitz" -> "S343", "Zotteldecke" -> "S320",
    "ZYX test" -> "S232", "Scherman" -> "S500", "Schurman" -> "S500",
    "Sherman" -> "S500", "Shermansss" -> "S500", "Shireman" -> "S650",
    "Shurman" -> "S500", "Euler" -> "A460", "Ellery" -> "A460",
    "Hilbert" -> "A130", "Heilbronn" -> "A165", "Gauss" -> "G000",
    "Ghosh" -> "G200", "Knuth" -> "N300", "Kant" -> "C530",
    "Lloyd" -> "L430", "Ladd" -> "L300", "Lukasiewicz" -> "L200",
    "Lissajous" -> "L200", "Philip" -> "F410", "Fripp" -> "F610",
    "Czarkowska" -> "C200", "Hornblower" -> "A514", "Looser" -> "L260",
    "Wright" -> "R623", "Phonic" -> "F520", "Quickening" -> "C250",
    "Kuickening" -> "C250", "Joben" -> "G150", "Zelda" -> "S300",
    "123456789" -> "0000", "" -> "0000")

  // -------------------------------------------------------------------- MRA
  /** ref: /root/reference/src/match_rating_approach.rs:302-330 */
  val mraEncode: Seq[(String, String)] = Seq(
    "HARPER" -> "HRPR", "Smith" -> "SMTH", "Smyth" -> "SMYTH",
    " " -> "", "" -> "", "E" -> "")

  /** (a, b, expected is_encoded_equals);
    * ref: /root/reference/src/match_rating_approach.rs:513-757.
    */
  val mraPairs: Seq[(String, String, Boolean)] = Seq(
    ("test", "", false), ("", "test", false), ("test", " ", false),
    (" ", "test", false), ("t", "test", false), ("test", "t", false),
    ("Al", "Ed", false), ("Karl", "C", false),
    ("Karl", "Alessandro", false), ("Úna", "Oonagh", false),
    ("Moriarty", "OMuircheartaigh", false), ("Murphy", " ", false),
    ("Murphy", "", false), ("Murphy", "Lynch", false),
    ("Sean", "Pete", false),
    ("John", "John", true), ("smith", "smyth", true),
    ("Burns", "Bourne", true), ("Catherine", "Kathryn", true),
    ("Brian", "Bryan", true), ("Séan", "Shaun", true),
    ("Cólm", "C-olín", true), ("Stephen", "Steven", true),
    ("Steven", "Stefan", true), ("Stephen", "Stefan", true),
    ("Sam", "Samuel", true), ("Micky", "Michael", true),
    ("Oona", "Oonagh", true), ("Sophie", "Sofia", true),
    ("Franciszek", "Frances", true), ("Tomasz", "tom", true),
    ("Kl", "Karl", true), ("Zach", "Zacharia", true),
    ("O'Sullivan", "Ó ' Súilleabháin", true),
    ("o'muireadhaigh", "Ó 'Muircheartaigh ", true),
    ("Cooper-Flynn", "Super-Lyn", true), ("Hailey", "Halley", true),
    ("Auerbach", "Uhrbach", true), ("Moskowitz", "Moskovitz", true),
    ("LIPSHITZ", "LIPPSZYC", true), ("LEWINSKY", "LEVINSKI", true),
    ("SZLAMAWICZ", "SHLAMOVITZ", true),
    ("R o s o ch o w a c ie c", " R o s o k ho v a ts e ts", true),
    (" P rz e m y s l", " P sh e m e sh i l", true),
    ("Peterson", "Peters", true), ("McGowan", "Mc Geoghegan", true),
    ("Sean", "John", true)).distinct

  // --------------------------------------------------------- Daitch-Mokotoff
  /** Branching `soundex()` goldens, pipe-joined;
    * ref: /root/reference/src/daitch_mokotoff.rs:1576-1783.
    */
  val dmSoundex: Seq[(String, String)] = Seq(
    "Straßburg" -> "294795", "Strasburg" -> "294795",
    "Éregon" -> "095600", "Eregon" -> "095600",
    "AKSSOL" -> "054800",
    "GERSCHFELD" -> "547830|545783|594783|594578",
    "GOLDEN" -> "583600", "Alpert" -> "087930", "Breuer" -> "791900",
    "Haber" -> "579000", "Mannheim" -> "665600", "Mintz" -> "664000",
    "Topf" -> "370000", "Kleinmann" -> "586660", "Ben Aron" -> "769600",
    "AUERBACH" -> "097400|097500", "OHRBACH" -> "097400|097500",
    "LIPSHITZ" -> "874400", "LIPPSZYC" -> "874400|874500",
    "LEWINSKY" -> "876450", "LEVINSKI" -> "876450",
    "SZLAMAWICZ" -> "486740", "SHLAMOVITZ" -> "486740",
    "Ceniow" -> "467000|567000", "Tsenyuv" -> "467000",
    "Holubica" -> "587400|587500", "Golubitsa" -> "587400",
    "Przemysl" -> "746480|794648", "Pshemeshil" -> "746480",
    "Rosochowaciec" ->
      "944744|944745|944754|944755|945744|945745|945754|945755",
    "Rosokhovatsets" -> "945744",
    "Peters" -> "734000|739400", "Peterson" -> "734600|739460",
    "Moskowitz" -> "645740", "Moskovitz" -> "645740",
    "Jackson" -> "154600|145460|454600|445460",
    "Jackson-Jackson" ->
      "154654|154645|154644|145465|145464|454654|454645|454644|445465|445464",
    "ţamas" -> "364000|464000", "țamas" -> "364000|464000")

  /** Non-branching `encode()` goldens;
    * ref: /root/reference/src/daitch_mokotoff.rs:1613-1668.
    */
  val dmEncode: Seq[(String, String)] = (Seq(
    "AUERBACH" -> "097400", "OHRBACH" -> "097400",
    "LIPSHITZ" -> "874400", "LIPPSZYC" -> "874400",
    "LEWINSKY" -> "876450", "LEVINSKI" -> "876450",
    "SZLAMAWICZ" -> "486740", "SHLAMOVITZ" -> "486740") ++
    Seq("OBrien", "'OBrien", "O'Brien", "OB'rien", "OBr'ien", "OBri'en",
      "OBrie'n", "OBrien'").map(_ -> "079600") ++
    Seq("KINGSMITH", "-KINGSMITH", "K-INGSMITH", "KI-NGSMITH", "KIN-GSMITH",
      "KING-SMITH", "KINGS-MITH", "KINGSM-ITH", "KINGSMI-TH", "KINGSMIT-H",
      "KINGSMITH-").map(_ -> "565463") ++
    Seq(" \t\n\r Washington \t\n\r " -> "746536")).distinct

  // --------------------------------------------------- Double Metaphone misc
  /** (a, b, alternate, expected is_double_metaphone_equal);
    * ref: /root/reference/src/double_metaphone.rs:1040-1100 + codec184 test.
    */
  val dmEqual: Seq[(String, String, Boolean, Boolean)] =
    Seq("testing", "The", "quick", "brown", "fox", "jumped", "over", "the",
      "lazy").flatMap(w =>
      Seq((w, w, false, true), (w, w, true, true))) ++
      Seq(("Brain", "Band", false, false), ("Brain", "Band", true, false),
        ("", "", false, true), ("", "", true, true),
        ("aa", "", false, false), ("aa", "", true, false))

  /** The 1221-row (word, primary, alternate) golden table;
    * ref: /root/reference/src/double_metaphone.rs:2234-3457 (shipped as a
    * TSV resource).
    */
  lazy val doubleMetaphone: Seq[(String, String, String)] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/double_metaphone_golden.tsv"), "UTF-8")
    try src.getLines().map { l =>
      val Array(w, p, a) = l.split("\t", -1)
      (w, p, a)
    }.toVector
    finally src.close()
  }

  // ------------------------------------------------------------ Beider-Morse
  /** (name_type, rule_type, concat, max_phonemes, token, code);
    * ref: /root/reference/src/beider_morse/engine.rs:318-846 +
    * mod.rs:234.
    */
  val beiderMorse: Seq[(String, String, Boolean, Int, String, String)] = Seq(
    ("gen", "approx", true, 10, "Renault",
      "rinD|rinDlt|rina|rinalt|rino|rinolt|rinu|rinult"),
    ("ash", "approx", true, 10, "Renault",
      "rYnDlt|rYnalt|rYnult|rinDlt|rinalt|rinolt|rinult"),
    ("ash", "approx", true, 1, "Renault", "rinDlt"),
    ("sep", "approx", true, 10, "Renault", "rinDlt"),
    ("gen", "exact", true, 10, "SntJohn-Smith", "sntjonsmit"),
    ("gen", "exact", true, 10, "d'ortley",
      "(ortlaj|ortlej)-(dortlaj|dortlej)"),
    ("gen", "exact", false, 10, "van helsing",
      "(elSink|elsink|helSink|helsink|helzink|xelsink)-(banhelsink|fanhelsink|fanhelzink|vanhelsink|vanhelzink|vanjelsink)"),
    ("gen", "approx", true, 10, "Judenburg",
      "iudnbYrk|iudnbirk|iudnburk|xudnbirk|xudnburk|zudnbirk|zudnburk"),
    ("gen", "approx", true, 20, "Van Helsing",
      "(Ylznk|ilzn|ilznk|xilzn|xilznk)-(banilznk|bonilznk|fYnYlznk|fYnilznk|fanYlznk|fanilznk|fonYlznk|fonilznk|vYnYlznk|vYnilznk|vanYlznk|vaniilznk|vanilzn|vanilznk|vonYlznk|voniilznk|vonilzn|vonilznk)"),
    ("gen", "approx", true, 20, "Angelo",
      "YngYlo|Yngilo|agilo|angYlo|angilo|aniilo|anilo|anxilo|anzilo|ogilo|ongYlo|ongilo|oniilo|onilo|onxilo|onzilo"),
    ("gen", "approx", false, 20, "Angelo",
      "YngYlo|Yngilo|agilo|angYlo|angilo|aniilo|anilo|anxilo|anzilo|ogilo|ongYlo|ongilo|oniilo|onilo|onxilo|onzilo"),
    ("gen", "exact", true, 20, "Angelo",
      "anZelo|andZelo|angelo|anhelo|anjelo|anxelo"),
    ("gen", "exact", true, 20, "D'Angelo",
      "(anZelo|andZelo|angelo|anhelo|anjelo|anxelo)-(danZelo|dandZelo|dangelo|danhelo|danjelo|danxelo)"),
    ("gen", "approx", true, 20, "D'Angelo",
      "(YngYlo|Yngilo|agilo|angYlo|angilo|aniilo|anilo|anxilo|anzilo|ogilo|ongYlo|ongilo|oniilo|onilo|onxilo|onzilo)-(dYngYlo|dYngilo|dagilo|dangYlo|dangilo|daniilo|danilo|danxilo|danzilo|dogilo|dongYlo|dongilo|doniilo|donilo|donxilo|donzilo)"),
    ("ash", "approx", true, 20, "Angelo",
      "YngYlo|Yngilo|angYlo|angilo|anilo|anxilo|anzilo|ongYlo|ongilo|onilo|onxilo|onzilo"),
    ("ash", "exact", true, 20, "Angelo", "andZelo|angelo|anhelo|anxelo"),
    ("ash", "exact", true, 20, "D'Angelo",
      "dandZelo|dangelo|danhelo|danxelo"),
    ("ash", "approx", true, 20, "D'Angelo",
      "dYngYlo|dYngilo|dangYlo|dangilo|danilo|danxilo|danzilo|dongYlo|dongilo|donilo|donxilo|donzilo"),
    ("sep", "approx", true, 20, "Angelo",
      "anhila|anhilu|anzila|anzilu|nhila|nhilu|nzila|nzilu"),
    ("sep", "exact", true, 20, "Angelo", "anZelo|andZelo|anxelo"),
    ("sep", "exact", true, 20, "D'Angelo", "anZelo|andZelo|anxelo"),
    ("sep", "exact", false, 20, "D'Angelo", "danZelo|dandZelo|danxelo"),
    ("sep", "approx", true, 20, "D'Angelo",
      "anhila|anhilu|anzila|anzilu|nhila|nhilu|nzila|nzilu"),
    ("sep", "approx", false, 20, "D'Angelo",
      "danhila|danhilu|danzila|danzilu|nhila|nhilu|nzila|nzilu"),
    ("gen", "approx", false, 20, "abram",
      "Ybram|Ybrom|abram|abran|abrom|abron|avram|avrom|obram|obran|obrom|obron|ovram|ovrom"),
    ("gen", "approx", false, 20, "Bendzin", "bndzn|bntsn|bnzn|vndzn|vntsn"),
    ("ash", "approx", false, 20, "abram",
      "Ybram|Ybrom|abram|abrom|avram|avrom|imbram|imbrom|obram|obrom|ombram|ombrom|ovram|ovrom"),
    ("ash", "approx", false, 20, "Halpern",
      "YlpYrn|Ylpirn|alpYrn|alpirn|olpYrn|olpirn|xalpirn|xolpirn"))

  /** (name_type, rule_type, concat, max_phonemes, languages-csv, token,
    * code) for `encode_with_languages`;
    * ref: /root/reference/src/beider_morse/mod.rs:261-271 +
    * engine.rs:451-815.
    */
  val bmLangRestricted: Seq[(String, String, Boolean, Int, String, String, String)] = Seq(
    ("gen", "exact", true, 20, "italian,greek,spanish", "Angelo",
      "andZelo|angelo|anxelo"),
    ("gen", "exact", true, 20, "italian", "Angelo", "andZelo"),
    ("gen", "exact", true, 20, "italian,greek,spanish", "1234", ""),
    ("gen", "approx", true, 20, "italian,greek,spanish", "Angelo",
      "angilo|anxilo|anzilo|ongilo|onxilo|onzilo"),
    ("ash", "exact", true, 20, "italian,greek,spanish", "Angelo",
      "angelo|anxelo"),
    ("ash", "approx", true, 20, "italian,greek,spanish", "Angelo",
      "angilo|anxilo|ongilo|onxilo"),
    ("sep", "exact", true, 20, "italian,greek,spanish", "Angelo",
      "andZelo|anxelo"))

  /** (token, sorted '|'-joined guessed languages, "any" for AnyLanguage);
    * ref: /root/reference/src/beider_morse/lang.rs:185-216.
    */
  val bmGuessLang: Seq[(String, String)] = Seq(
    "Renault" -> "french", "Mickiewicz" -> "polish",
    "Thompson" -> "english|greeklatin", "Nuñez" -> "spanish",
    "Carvalho" -> "portuguese", "Čapek" -> "czech",
    "Sjneijder" -> "dutch", "Klausewitz" -> "german",
    "Küçük" -> "turkish", "Giacometti" -> "italian",
    "Nagy" -> "hungarian", "Ceauşescu" -> "romanian",
    "Angelopoulos" -> "greeklatin", "Αγγελόπουλος" -> "greek",
    "Пушкин" -> "cyrillic", "כהן" -> "hebrew",
    "ácz" -> "any", "átz" -> "any")

  // ------------------------------------------------------------ Jaro-Winkler
  /** Literal pairs for the Jaro-Winkler query; expected values come from
    * DuckDB's own `jaro_winkler_similarity` (same standard definition:
    * p=0.1, 4-char prefix cap), so the oracle is engine-independent.
    */
  val jaroWinklerPairs: Seq[(String, String)] = Seq(
    ("Smith", "Smyth"), ("ALEXANDER", "ALEXANDRA"), ("Karl", "Alessandro"),
    ("Catherine", "Kathryn"), ("Stephen", "Steven"), ("Oona", "Oonagh"),
    ("Moskowitz", "Moskovitz"), ("LIPSHITZ", "LIPPSZYC"),
    ("Peterson", "Peters"), ("McGowan", "Mc Geoghegan"),
    // NOTE: ("", "") is excluded — commons-style JW defines it as 1.0
    // (equal strings) while DuckDB returns 0.0; a definitional edge, not
    // a similarity disagreement.
    ("identical", "identical"), ("a", ""), ("", "b"),
    ("DWAYNE", "DUANE"), ("MARTHA", "MARHTA"), ("DIXON", "DICKSONX"))

  // ------------------------------------------------------------- SQL helpers
  /** Single-quote a SQL string literal (doubling embedded quotes). */
  def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  private def sqlVal(v: Any): String = v match {
    case s: String => sqlStr(s)
    case b: Boolean => b.toString.toUpperCase
    case other => other.toString
  }

  /** `(VALUES ...) AS t(cols...)` — a literal table usable in FROM. */
  def valuesTable(cols: Seq[String], rows: Seq[Product]): String = {
    require(rows.nonEmpty)
    val body = rows
      .map(r => r.productIterator.map(sqlVal).mkString("(", ", ", ")"))
      .mkString(",\n")
    s"(VALUES\n$body\n) AS t(${cols.mkString(", ")})"
  }

  /** `SELECT * FROM (VALUES ...) AS t(cols...)` over literal rows — the
    * DuckDB oracle body for golden-vector queries.
    */
  def valuesSql(cols: Seq[String], rows: Seq[Product]): String =
    s"SELECT * FROM ${valuesTable(cols, rows)}"
}
